package graft

import graft.functions.{QuantilePoint, QuantileSketchAgg}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Weighted-quantile sketch (functions.QuantileSketchAgg): exactness in the
  * no-compression regime under ANY partitioning/merge order, the ε rank
  * bound once compression kicks in, integer per-mille rank arithmetic, and
  * the Spark aggregation path (map-side combine over repartitioned data).
  */
class QuantileSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private val pms = QuantileSketchAgg.DefaultPms

  /** Exact reference: smallest v with cumulative weight >= max(1,
    * ceil(pm·n/1000)), the same integer formula the aggregator uses.
    */
  private def exact(data: Seq[(Long, Long)]): Seq[QuantilePoint] = {
    val hist = data.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    val total = hist.map(_._2).sum
    pms.map { pm =>
      val r = math.max(1L, (pm.toLong * total + 999L) / 1000L)
      var cum = 0L
      val it = hist.iterator
      var v = hist.head._1
      var found = false
      while (it.hasNext && !found) {
        val (x, w) = it.next(); cum += w
        if (cum >= r) { v = x; found = true }
      }
      QuantilePoint(pm, v, total)
    }
  }

  private def sketch(data: Seq[(Long, Long)], capacity: Int,
      chunks: Int): Seq[QuantilePoint] = {
    val agg = new QuantileSketchAgg(capacity, pms)
    val partials = data.grouped(math.max(1, data.length / chunks)).map { g =>
      g.foldLeft(agg.zero)((b, in) => agg.reduce(b, in))
    }.toSeq
    agg.finish(partials.reduceLeft(agg.merge))
  }

  test("exact regime: equals brute-force quantiles under any partitioning") {
    val rnd = new scala.util.Random(7)
    val data = (0 until 5000).map(_ =>
      (rnd.nextInt(300).toLong, 1L + rnd.nextInt(5).toLong))
    val want = exact(data)
    for (chunks <- Seq(1, 3, 16, 500))
      assert(sketch(data, capacity = 512, chunks) == want, s"chunks=$chunks")
  }

  test("compressed regime: every probe's true rank lands within the ε bound") {
    val rnd = new scala.util.Random(11)
    val data = (0 until 20000).map(_ => (rnd.nextInt(100000).toLong, 1L))
    val capacity = 256
    val hist = data.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    val total = hist.map(_._2).sum
    def trueRank(v: Long): Long = hist.takeWhile(_._1 <= v).map(_._2).sum
    for (chunks <- Seq(1, 8)) {
      val got = sketch(data, capacity, chunks)
      got.foreach { p =>
        val r = math.max(1L, (p.pm.toLong * total + 999L) / 1000L)
        // one generation displaces <= ceil(2W/cap); merges compound a few
        // generations — 6W/cap is a loose envelope that still proves the
        // sketch tracks rank, not just order
        val slack = 6L * total / capacity
        assert(math.abs(trueRank(p.v) - r) <= slack,
          s"pm=${p.pm} v=${p.v} trueRank=${trueRank(p.v)} want~$r ±$slack")
      }
      // values must be monotone in the probe
      assert(got.map(_.v) == got.map(_.v).sorted)
    }
  }

  test("weights are equivalent to row duplication") {
    val weighted = Seq((5L, 3L), (9L, 1L), (2L, 6L))
    val expanded = weighted.flatMap { case (v, w) => Seq.fill(w.toInt)((v, 1L)) }
    assert(sketch(weighted, 64, 1) == sketch(expanded, 64, 2))
  }

  test("zero and negative weights are ignored; empty input yields no probes") {
    val agg = new QuantileSketchAgg(64, pms)
    assert(agg.finish(agg.zero).isEmpty)
    val b = agg.reduce(agg.reduce(agg.zero, (5L, 0L)), (7L, -2L))
    assert(agg.finish(b).isEmpty)
  }

  test("Spark path: map-side combined sketch equals exact SQL ranks, any repartition") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (0 until 4000).map(i =>
      (s"g${i % 3}", rnd.nextInt(200).toLong)).toDF("g", "v")
    val want = df.as[(String, Long)].collect().groupBy(_._1).view
      .mapValues(rows => exact(rows.map(r => (r._2, 1L)).toSeq)).toMap
    for (parts <- Seq(1, 7)) {
      val got = df.repartition(parts)
        .groupBy(col("g"))
        .agg(QuantileSketchAgg.column(col("v"), lit(1L), 512).as("qp"))
        .select(col("g"), explode(col("qp")).as("e"))
        .select(col("g"), col("e.pm"), col("e.v"), col("e.n"))
        .as[(String, Int, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r =>
          QuantilePoint(r._2, r._3, r._4)).sortBy(_.pm).toSeq).toMap
      assert(got == want, s"parts=$parts")
    }
  }
}
