package graft

import graft.core.Scd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CDC compaction + SCD2 layout (core.Scd): latestByKey must equal the
  * row_number()-window encoding under any partitioning (including
  * same-timestamp ties broken by the sequence column), and its plan must be
  * a map-side-combinable aggregate — partial before the exchange, no Window
  * — which is the whole reason it exists at change-log scale. scd2 must
  * produce per-key interval chains that tile the timeline (adjacent,
  * non-overlapping, open tail), with same-timestamp churn collapsing to the
  * last writer.
  */
class ScdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  // seeded change log: 40 keys × ~25 changes, coarse timestamps so
  // same-(key, ts) ties occur routinely; seq is globally unique
  private def log: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 1000).map { i =>
      (rnd.nextInt(40).toLong, rnd.nextInt(50).toLong * 10L, i.toLong,
        rnd.nextInt(1000).toLong)
    }.toDF("key", "t", "seq", "v")
  }

  private def windowLatest(df: DataFrame): Set[(Long, Long, Long)] = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t").desc, col("seq").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("key"), col("seq"), col("v"))
      .as[(Long, Long, Long)].collect().toSet
  }

  test("latestByKey equals the row_number window encoding, ties included") {
    val expect = windowLatest(log)
    for (parts <- Seq(1, 3, 11)) {
      val got = Scd.latestByKey(log.repartition(parts), Seq("key"),
          timeCol = "t", seqCol = "seq", payload = Seq("seq", "v"))
        .as[(Long, Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate keys at $parts parts")
      assert(got.toSet == expect, s"mismatch at $parts partitions")
    }
  }

  test("latestByKey plan: partial aggregate before ONE exchange, no Window") {
    val plan = Scd.latestByKey(log, Seq("key"), "t", "seq", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by") || plan.contains("partial max_by")
      || plan.toLowerCase.contains("partial"), s"no partial aggregate:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
  }

  test("latestByKey validates keys/payload") {
    intercept[IllegalArgumentException] {
      Scd.latestByKey(log, Nil, "t", "seq", Seq("v"))
    }
    intercept[IllegalArgumentException] {
      Scd.latestByKey(log, Seq("key"), "t", "seq", Seq("key"))
    }
  }

  test("scd2 intervals tile each key's timeline and match a naive fold") {
    val got = Scd.scd2(log, Seq("key"), timeCol = "t", seqCol = "seq")
      .select(col("key"), col("seq"), col("valid_from"), col("valid_to"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)))

    // naive reconstruction: per key, sort by (t, seq); last writer at each
    // distinct t survives with valid_to = next distinct t (open tail)
    val expect = log.as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        val byT = rows.sortBy(r => (r._2, r._3))
          .groupBy(_._2).toSeq.sortBy(_._1).map { case (t, tied) =>
            (t, tied.last._3) // (distinct t, winning seq)
          }
        byT.zipAll(byT.drop(1).map(x => Some(x._1)), (0L, 0L), None)
          .map { case ((t, seq), next) =>
            (k, seq, t, next.getOrElse(Long.MaxValue))
          }
      }.toSet
    assert(got.length == got.toSet.size, "duplicate versions")
    assert(got.toSet == expect)

    // tiling: within a key, intervals are disjoint and adjacent
    got.groupBy(_._1).foreach { case (k, vs) =>
      val sorted = vs.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"gap/overlap in key $k: $a -> $b")
        case _ =>
      }
      assert(sorted.last._4 == Long.MaxValue, s"key $k has no open version")
    }
  }

  test("scd2 collapses same-(key, time) churn to the (t, seq)-last writer") {
    val df = Seq(
      (1L, 10L, 1L, 100L), (1L, 10L, 2L, 200L), (1L, 10L, 3L, 300L),
      (1L, 20L, 4L, 400L)
    ).toDF("key", "t", "seq", "v")
    val got = Scd.scd2(df, Seq("key"), "t", "seq")
      .select(col("seq"), col("valid_from"), col("valid_to"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((3L, 10L, 20L), (4L, 20L, -1L)))
  }

  test("scd2 plan: ONE exchange (the key window), input never reshuffled") {
    val plan = Scd.scd2(log, Seq("key"), "t", "seq")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("scd2 rejects pre-existing validity columns") {
    val df = Seq((1L, 1L, 1L)).toDF("key", "t", "valid_from")
    intercept[IllegalArgumentException] {
      Scd.scd2(df, Seq("key"), "t", "t")
    }
  }
}
