package graft

import graft.functions.ThetaSketchAgg
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV/theta cardinality sketch (functions.ThetaSketchAgg): exactness in
  * the no-truncation regime, CANONICAL state under any partitioning (the
  * k smallest distinct hashes of a union are merge-order independent even
  * when truncated), estimator accuracy beyond k, pair intersection, and
  * the Spark aggregation path.
  */
class ThetaSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private def sketch(hashes: Seq[Long], k: Int, chunks: Int): Array[Long] = {
    val agg = new ThetaSketchAgg(k)
    val partials = hashes.grouped(math.max(1, hashes.length / chunks))
      .map(g => g.foldLeft(agg.zero)(agg.reduce)).toSeq
    agg.finish(partials.reduceLeft(agg.merge))
  }

  test("exact regime: estimate and intersection equal exact set arithmetic") {
    val rnd = new scala.util.Random(3)
    val a = Seq.fill(4000)(rnd.nextLong()).distinct
    val b = a.take(1500) ++ Seq.fill(2000)(rnd.nextLong()).distinct
    val k = 16384
    val (sa, sb) = (sketch(a, k, 4), sketch(b.distinct, k, 3))
    assert(ThetaSketchAgg.estimate(sa, k) == a.size)
    val (na, nb, nc) = ThetaSketchAgg.pairStats(sa, sb, k)
    assert(na == a.size && nb == b.distinct.size)
    assert(nc == a.toSet.intersect(b.toSet).size)
  }

  test("EXACTLY k distinct is still the exact regime (boundary pin)") {
    // the ≤ k contract must hold AT k: the k+1-th retained slot is what
    // distinguishes "complete with k members" from "k retained of more" —
    // without it this estimate falls into the hash-dependent θ branch
    val rnd = new scala.util.Random(11)
    val k = 64 // >= 16 floor
    val a = Seq.fill(k * 3)(rnd.nextLong()).distinct.take(k)
    assert(a.size == k)
    for (chunks <- Seq(1, 3, 7)) {
      val s = sketch(a, k, chunks)
      assert(s.length == k)
      assert(ThetaSketchAgg.estimate(s, k) == k.toLong)
    }
    // and one past k genuinely fills: k+1 entries, estimator branch
    val b = a :+ Iterator.continually(rnd.nextLong())
      .dropWhile(a.contains).next()
    val sb = sketch(b, k, 2)
    assert(sb.length == k + 1)
    // exact pair arithmetic at the boundary too
    val (na, nb, nc) = ThetaSketchAgg.pairStats(sketch(a, k, 2),
      sketch(a.take(k / 2), k, 1), k)
    assert(na == k.toLong && nb == (k / 2).toLong && nc == (k / 2).toLong)
  }

  test("state is canonical under any partitioning, even truncated") {
    val rnd = new scala.util.Random(9)
    val data = Seq.fill(50000)(rnd.nextLong())
    for (k <- Seq(256, 16384)) {
      val ref = sketch(data, k, 1)
      for (chunks <- Seq(5, 64))
        assert(sketch(data, k, chunks).toSeq == ref.toSeq, s"k=$k chunks=$chunks")
    }
  }

  test("truncated regime: cardinality and intersection estimates track truth") {
    val rnd = new scala.util.Random(17)
    // hashes must be uniform for the KMV estimator — model the xxhash64 feed
    val a = Seq.fill(60000)(rnd.nextLong()).distinct
    val b = a.take(20000) ++ Seq.fill(40000)(rnd.nextLong()).distinct
    val k = 1024
    val (sa, sb) = (sketch(a, k, 8), sketch(b.distinct, k, 8))
    val est = ThetaSketchAgg.estimate(sa, k).toDouble
    assert(math.abs(est - a.size) / a.size < 0.10, s"est=$est true=${a.size}")
    val (_, _, nc) = ThetaSketchAgg.pairStats(sa, sb, k)
    val trueC = a.toSet.intersect(b.toSet).size
    assert(math.abs(nc.toDouble - trueC) / trueC < 0.20, s"nc=$nc true=$trueC")
  }

  test("empty and singleton sketches") {
    val agg = new ThetaSketchAgg(64)
    assert(agg.finish(agg.zero).isEmpty)
    assert(ThetaSketchAgg.estimate(Array.emptyLongArray, 64) == 0L)
    val one = agg.finish(agg.reduce(agg.zero, 42L))
    assert(ThetaSketchAgg.estimate(one, 64) == 1L)
    assert(ThetaSketchAgg.pairStats(one, Array.emptyLongArray, 64) == ((1L, 0L, 0L)))
  }

  test("Spark path: per-group sketch counts equal exact distinct counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val df = (0 until 6000).map(_ =>
      (s"g${rnd.nextInt(3)}", s"u${rnd.nextInt(800)}")).toDF("g", "u")
    val k = 4096
    val got = df.groupBy(col("g"))
      .agg(ThetaSketchAgg.column(xxhash64(col("u")), k).as("sk"))
      .select(col("g"), ThetaSketchAgg.estimateUdf(k)(col("sk")).as("n"))
      .as[(String, Long)].collect().toMap
    val want = df.as[(String, String)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.length.toLong).toMap
    assert(got == want)
  }
}
