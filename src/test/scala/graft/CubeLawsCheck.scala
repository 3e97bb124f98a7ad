package graft

import graft.core._
import graft.functions.{Reducers, Scalar}
import graft.operators._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink, propBoolean}

/** Property tests for cube-operator laws (SURVEY §5: null-propagation laws
  * and engine≡in-memory agreement on the long-form cube), mirroring the
  * reference's numpy-vs-dask equivalence checks (tests/general_checks.py).
  */
object CubeLawsCheck extends Properties("CubeLaws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  /** tiny cube: ≤2 bands × ≤6 positions, integer-valued doubles + nulls */
  val genCells: Gen[List[(Long, String, Option[Int])]] = for {
    nBands <- Gen.choose(1, 2)
    nPos <- Gen.choose(1, 6)
    cells <- Gen.sequence[List[(Long, String, Option[Int])], (Long, String, Option[Int])](
      (for {
        b <- 0 until nBands
        p <- 0 until nPos
      } yield Gen.option(Gen.choose(-100, 100))
        .map(v => (p.toLong, s"B$b", v))).toList)
  } yield cells

  def toCube(cells: List[(Long, String, Option[Int])]): DataCube = {
    val df = cells.map { case (p, b, v) =>
      (p, b, v.map(_.toDouble).map(java.lang.Double.valueOf).orNull)
    }.toDF("i", "band", "value")
    DataCube.fromTable(df, Seq("i", "band"), "value",
      Map("i" -> DimType.Other, "band" -> DimType.Bands))
  }

  property("reduce sum equals in-memory groupBy sum") =
    forAll(genCells) { cells =>
      val got = ReduceOps.reduceDimension(toCube(cells), "i",
        v => Reducers.sumR(v))
        .df.collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      val want = cells.groupBy(_._2).map { case (b, cs) =>
        val vs = cs.flatMap(_._3)
        b -> (if (vs.isEmpty) None else Some(vs.sum.toDouble))
      }
      got == want
    }

  property("merge_cubes with + resolver is symmetric") =
    forAll(genCells, genCells) { (a, b) =>
      def collect(c: DataCube) = c.df.collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val c1 = toCube(a)
      val c2 = toCube(b.map { case (p, band, v) => (p + 3, band, v) }) // partial overlap
      val m12 = collect(MergeOps.mergeCubes(c1, c2, Some(_ + _)))
      val m21 = collect(MergeOps.mergeCubes(c2, c1, Some(_ + _)))
      m12 == m21
    }

  /** one step of a random operator chain, named for the failure report;
    * `k` keeps added dimension and band names unique along the chain
    */
  type Step = (String, DataCube => DataCube)
  def step(name: String)(f: DataCube => DataCube): Step = (name, f)

  val genStep: Gen[Step] = for {
    k <- Gen.choose(0, 999)
    bands <- Gen.someOf("B0", "B1", "B9")
    cut <- Gen.choose(0L, 6L)
    picked <- Gen.oneOf(
      step(s"filter_bands(${bands.mkString(",")})")(
        FilterOps.filterBands(_, bands.toSeq)),
      step(s"add_dimension(d$k)")(CubeDimOps.addDimension(_, s"d$k", s"L$k")),
      step(s"ndvi(target N$k)")(IndicesOps.ndvi(_, "B0", "B1", Some(s"N$k"))),
      step("merge_cubes stack")(c =>
        if (c.meta.has("cubes")) c else MergeOps.mergeCubes(c, c, None)),
      step("rename_labels(B0 -> R0)")(
        CubeDimOps.renameLabels(_, "band", Map("B0" -> "R0"))),
      step(s"filter_labels(i >= $cut)")(FilterOps.filterLabels(_, "i", _ >= cut)),
      step("apply(+1)")(ApplyOps.apply(_, _ + 1)))
  } yield picked
  val genChain: Gen[List[Step]] = Gen.choose(1, 4).flatMap(Gen.listOfN(_, genStep))

  property("known labels equal the column's distinct values in native order") =
    forAllNoShrink(genCells, genChain) { (cells, chain) =>
      // exact labels to start from: i sorts numerically, band lexically
      val start = toCube(cells).copy(labels = Map(
        "i" -> cells.map(_._1).distinct.sorted.map(_.toString),
        "band" -> cells.map(_._2).distinct.sorted))
      // a step whose precondition fails (a band ndvi needs, say) is skipped
      val out = chain.foldLeft(start) { case (c, (_, f)) =>
        try f(c) catch { case _: IllegalArgumentException => c }
      }
      val bare = DataCube(out.df, out.meta)
      val stale = out.labels.filter { case (d, ls) => bare.labelsOf(d) != ls }
      (stale.isEmpty && out.labels.keySet.subsetOf(out.meta.dimNames.toSet)) :|
        s"stale labels $stale after ${chain.map(_._1).mkString(" → ")}"
    }

  property("sortAlong preserves the per-series multiset") =
    forAll(genCells) { cells =>
      // sortAlong output column order is (band, i, value)
      val sorted = WindowOps.sortAlong(toCube(cells), "i")
        .df.collect()
        .map(r => (r.getString(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      val got = sorted.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted.toList).toMap
      val want = cells.groupBy(_._2).map { case (b, cs) =>
        b -> cs.map(_._3.map(_.toDouble)).sorted.toList
      }
      got == want
    }

  property("interpolate_linear never changes non-null cells") =
    forAll(genCells) { cells =>
      val before = cells.collect { case (p, b, Some(v)) => (p, b) -> v.toDouble }.toMap
      val after = WindowOps.interpolateLinear(toCube(cells), "i")
        .df.collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      before.forall { case (k, v) => after(k).contains(v) }
    }

  property("comparison null propagation: null operand → null result") =
    forAll(Gen.option(Gen.choose(-5, 5)), Gen.option(Gen.choose(-5, 5))) { (x, y) =>
      val df = Seq((x.map(_.toDouble).map(java.lang.Double.valueOf).orNull,
        y.map(_.toDouble).map(java.lang.Double.valueOf).orNull)).toDF("a", "b")
      val r = df.select(
        Scalar.eq(col("a"), col("b")).as("eq"),
        Scalar.lt(col("a"), col("b")).as("lt"),
        Scalar.gte(col("a"), col("b")).as("gte")).collect()(0)
      val anyNull = x.isEmpty || y.isEmpty
      (0 until 3).forall(i => r.isNullAt(i) == anyNull)
    }

  property("cumprod equals in-memory prefix product (nulls skipped)") =
    forAll(genCells) { cells =>
      val c = toCube(cells)
      val longCube = c.withDf(_.withColumn("value", col("value").cast("long")))
      val got = WindowOps.cumprodExact(longCube, "i").df.collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val expected = cells.groupBy(_._2).flatMap { case (band, bs) =>
        var acc = 1L
        bs.sortBy(_._1).map { case (i, _, v) =>
          v.foreach(x => acc *= x)
          (i, band) -> v.map(_ => acc)
        }
      }
      got == expected
    }

  property("UTM forward∘inverse is identity within 1e-7 degrees") =
    forAll(Gen.choose(3.01, 14.99), Gen.choose(-79.0, 79.0)) { (lon, lat) =>
      val zone = ((lon + 180) / 6).toInt + 1
      val (e, n) = ReferenceForms.utmForward(lon, lat, zone, south = lat < 0)
      val (lon2, lat2) = ReferenceForms.utmInverse(e, n, zone, south = lat < 0)
      math.abs(lon2 - lon) < 1e-7 && math.abs(lat2 - lat) < 1e-7
    }

  property("kernel with Constant(0) border equals the plain apply_kernel") =
    forAll(genCells) { cells =>
      // cube as a 1-row-per-(x,y=0) grid; compare both kernel paths
      val nonNull = cells.collect { case (i, b, Some(v)) if b == "B0" => (i, v) }
      nonNull.size < 2 || {
        val df = nonNull.map { case (i, v) => (i, 0L, v.toDouble) }
          .toDF("x", "y", "value")
        val c = DataCube.fromTable(df, Seq("x", "y"), "value")
        val kern = Seq(Seq(1.0, 2.0, 1.0))
        val xs = nonNull.map(_._1)
        val a = KernelOps.applyKernel(c, kern).df.collect()
          .map(r => (r.getLong(0), r.getDouble(2))).toMap
        val b = KernelOps.applyKernelBorder(c, kern, KernelOps.Constant(0.0),
          1.0, (xs.min, xs.max), (0L, 0L)).df.collect()
          .map(r => (r.getLong(0), r.getDouble(2))).toMap
        a == b
      }
    }

  property("generalized TM forward∘inverse is identity for arbitrary params") =
    forAll(Gen.choose(-177.0, 177.0), Gen.choose(-79.0, 79.0),
      Gen.choose(0.9, 1.1), Gen.choose(0.0, 5000000.0)) { (lon0, lat, k0, fe) =>
      val lon = lon0 + 1.5 // inside the zone of validity around lon0
      val (e, n) = graft.geo.Geo.tmForward(lon, lat, lon0, k0, fe, 0.0)
      val (lon2, lat2) = graft.geo.Geo.tmInverse(e, n, lon0, k0, fe, 0.0)
      math.abs(lon2 - lon) < 1e-7 && math.abs(lat2 - lat) < 1e-7
    }

  property("2-D neighborhood with stride=size conserves the total sum") =
    forAll(genCells) { cells =>
      val nonNull = cells.collect { case (i, b, Some(v)) if b == "B0" => (i, v) }
      nonNull.isEmpty || {
        val df = nonNull.map { case (i, v) => (i.toDouble, 0.0, v.toDouble) }
          .toDF("x", "y", "value")
        val c = DataCube.fromTable(df, Seq("x", "y"), "value",
          Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
        // no overlap → stride = size → every cell lands in EXACTLY one
        // window, so window sums must re-add to the cube's total
        val out = WindowOps.applyNeighborhood2D(c, 3, 3, v => Reducers.sumR(v))
        val winSum = out.df.agg(sum(col("value"))).collect()(0).getDouble(0)
        winSum == nonNull.map(_._2.toDouble).sum
      }
    }
}
