package graft

import graft.core._
import graft.functions.ArrayFns
import graft.operators._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.scalatest.funsuite.AnyFunSuite

/** Along-dimension operator semantics on tiny series
  * (mirrors reference: tests/test_arrays.py, test_apply.py).
  */
class SeriesOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  def series(vals: Seq[java.lang.Double],
      session: SparkSession = spark): DataCube = {
    val df = session.createDataFrame(
      vals.zipWithIndex.map { case (v, i) => (i.toLong, "B1", v) })
      .toDF("i", "band", "value")
    DataCube.fromTable(df, Seq("i", "band"), "value",
      Map("i" -> DimType.Other, "band" -> DimType.Bands))
  }

  def collectByI(c: DataCube): Seq[Option[Double]] =
    c.df.orderBy("i").collect().toSeq
      .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))

  test("cumsum skips nulls but preserves null cells (math.py:125-174)") {
    val out = collectByI(WindowOps.cumsum(series(Seq(1.0, 2.0, null, 4.0)), "i"))
    assert(out == Seq(Some(1.0), Some(3.0), None, Some(7.0)))
  }

  test("interpolate_linear fills gaps, leaves edges null (arrays.py:405-458)") {
    val out = collectByI(WindowOps.interpolateLinear(
      series(Seq(null, 2.0, null, null, 8.0, null)), "i"))
    assert(out == Seq(None, Some(2.0), Some(4.0), Some(6.0), Some(8.0), None))
  }

  test("orderRank: stable, nulls last (arrays.py:498-535)") {
    val ranked = WindowOps.orderRank(series(Seq(3.0, 1.0, null, 1.0)), "i")
    val got = ranked.df.orderBy("i").collect().map(_.getInt(3)).toSeq
    // values [3,1,null,1] → ascending ranks: 3→2, 1(first)→0, null→3, 1(second)→1
    assert(got == Seq(2, 0, 3, 1))
  }

  test("sortAlong reassigns sorted values to positions (arrays.py:558-584)") {
    val out = collectByI(WindowOps.sortAlong(series(Seq(3.0, 1.0, null, 2.0)), "i"))
    assert(out == Seq(Some(1.0), Some(2.0), Some(3.0), None))
  }

  test("array HOFs: modify/find/element (arrays.py)") {
    val df = Seq(Tuple1(Seq(10L, 20L, 30L, 40L))).toDF("arr")
    val r = df.select(
      ArrayFns.arrayModify(col("arr"), array(lit(99L)), 1, 2).as("m"),
      ArrayFns.arrayFind(col("arr"), lit(30L)).as("f"),
      ArrayFns.arrayFind(col("arr"), lit(77L)).as("nf"),
      ArrayFns.arrayElement(col("arr"), 2).as("e"),
      ArrayFns.rearrange(col("arr"), array(lit(3), lit(0))).as("rr")).collect()(0)
    assert(r.getSeq[Long](0) == Seq(10L, 99L, 40L))
    assert(r.getLong(1) == 2L && r.isNullAt(2))
    assert(r.getLong(3) == 30L)
    assert(r.getSeq[Long](4) == Seq(40L, 10L))
  }

  test("ndvi collapses the band dim (indices.py:15-59)") {
    val df = Seq((1.0, "nir", 8.0), (1.0, "red", 2.0), (2.0, "nir", 5.0), (2.0, "red", 5.0))
      .toDF("x", "band", "value")
    val c = DataCube.fromTable(df, Seq("x", "band"), "value")
    val out = IndicesOps.ndvi(c, "nir", "red").df.orderBy("x").collect()
    assert(out.map(_.getDouble(1)).toSeq == Seq(0.6, 0.0))
    assert(!out(0).schema.fieldNames.contains("band"))
  }

  test("apply_kernel 3x3 identity-ish kernel on a 2x2 grid") {
    val df = Seq((0.0, 0.0, 1.0), (1.0, 0.0, 2.0), (0.0, 1.0, 3.0), (1.0, 1.0, 4.0))
      .toDF("x", "y", "value")
    val c = DataCube.fromTable(df, Seq("x", "y"), "value")
    val out = KernelOps.applyKernel(c, Seq(Seq(0, 1, 0), Seq(1, 1, 1), Seq(0, 1, 0)))
      .df.orderBy("x", "y").collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    // cell (0,0): self 1 + right 2 + down 3 = 6 (missing neighbors = 0)
    assert(out((0.0, 0.0)) == 6.0)
    assert(out((1.0, 1.0)) == 4.0 + 2.0 + 3.0)
  }

  test("fitLinear recovers exact line") {
    val c = series(Seq(1.0, 3.0, 5.0, 7.0)) // y = 1 + 2x
    val r = CurveOps.fitLinear(c, "i").collect()(0)
    val (a, b) = (r.getDouble(r.fieldIndex("a")), r.getDouble(r.fieldIndex("b")))
    assert(math.abs(a - 1.0) < 1e-12 && math.abs(b - 2.0) < 1e-12)
  }

  test("fitLinear exact moments: big-coordinate dispatch to decimal") {
    // ids ~4e9: x² ≈ 1.6e19 overflows the split-long bigint cast (an sf1
    // bench with 10^9-offset key spaces crashed exactly here) and is not
    // even an exact double product — the magnitude probe must dispatch
    // the whole aggregation to decimal-exact products. Oracle computed
    // independently with BigDecimal normal equations.
    val base = 4_000_000_000L
    val pts = (0 until 7).map(k => (base + k * 1_000_003L, 2L * k + 5L))
    val df = pts.map { case (x, y) => (x, "B1", y.toDouble) }
      .toDF("i", "band", "value")
    val c = DataCube.fromTable(df, Seq("i", "band"), "value",
      Map("i" -> DimType.Other, "band" -> DimType.Bands))
    val r = CurveOps.fitLinear(c, "i", exactIntMoments = true).collect()(0)
    val (a, b) = (r.getDouble(r.fieldIndex("a")), r.getDouble(r.fieldIndex("b")))
    // exact BigDecimal moment sums, rounded to double ONCE each, then
    // the same double Cramer arithmetic the operator (and the DuckDB
    // oracle) performs — bit-identical expectations, not a tolerance
    val bd = pts.map { case (x, y) => (BigDecimal(x), BigDecimal(y)) }
    val dn = bd.size.toDouble
    val dsx = bd.map(_._1).sum.toDouble
    val dsy = bd.map(_._2).sum.toDouble
    val dsxx = bd.map(p => p._1 * p._1).sum.toDouble
    val dsxy = bd.map(p => p._1 * p._2).sum.toDouble
    val wantB = (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx)
    val wantA = (dsy - wantB * dsx) / dn
    assert(b == wantB, s"slope $b != $wantB")
    assert(a == wantA, s"intercept $a != $wantA")
  }

  test("fitLinear exact moments: single-pass dispatch — probe and result share one raw scan") {
    // the magnitude dispatch must NOT cost a second scan of the raw
    // series columns: the split-long moments and the max magnitudes
    // aggregate together in ONE pass, the per-series result persists,
    // and the probe reads that tiny cached frame. Asserted structurally:
    // exactly one ACTION fires during the fit call (the probe — which is
    // what materialises the cache), and the returned plan reads the
    // InMemoryRelation, not the raw table. (Job counts are no proxy —
    // AQE splits one action into a job per query stage.) The series lives
    // on a private session whose listener hears only its own queries, so
    // a late action of an earlier suite on the shared session never counts.
    val session = spark.newSession()
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = actions.incrementAndGet()
    }
    session.listenerManager.register(l)
    try {
      val c = series(Seq(1.0, 3.0, 5.0, 7.0), session)
      val out = CurveOps.fitLinear(c, "i", exactIntMoments = true)
      // listener delivery is async — deliver every action the fit fired
      PlanBridge.drainListeners(session)
      assert(actions.get() == 1,
        s"expected exactly 1 probe action during fit, saw ${actions.get()}")
      val cached = out.queryExecution.optimizedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }
      assert(cached.nonEmpty,
        "common-path result must read the persisted aggregate")
      val r = out.collect()(0)
      assert(math.abs(r.getDouble(r.fieldIndex("b")) - 2.0) < 1e-12)
    } finally session.listenerManager.unregister(l)
  }

  test("fitBasis2 exact moments: big-magnitude values take the decimal path") {
    // values ~1e8 flip the magnitude probe (m² ≥ 2^53) so the nine
    // moments run decimal-exact; every product here is still under 2^53,
    // so the plain-double aggregation is exact too — the two paths must
    // agree bit-for-bit, proving the decimal dispatch changes COST only
    val df = (0 until 11).map { k =>
      (k.toLong, "B1", 100_000_000.0 + 37.0 * k + 11.0 * (k % 3))
    }.toDF("t", "band", "value")
    val c = DataCube.fromTable(df, Seq("t", "band"), "value",
      Map("t" -> DimType.Temporal, "band" -> DimType.Bands))
    def fit(exact: Boolean) =
      CurveOps.fitBasis2(c, "t",
        x => floor(sin(x) * 1e4), x => floor(cos(x) * 1e4),
        exactIntMoments = exact).collect()(0)
    val (re, rd) = (fit(true), fit(false))
    for (p <- Seq("a", "b", "c"))
      assert(re.getDouble(re.fieldIndex(p)) == rd.getDouble(rd.fieldIndex(p)),
        s"param $p diverged between decimal and double paths")
  }
}
