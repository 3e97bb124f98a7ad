package graft.operators

import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Band-math indices (reference: openeo_processes_dask/process_implementations/
  * cubes/indices.py:15-59 — ndvi).
  */
object IndicesOps {

  /** ndvi = (nir - red) / (nir + red), resolving bands by label. The band
    * dimension collapses: one conditional aggregation per series — no
    * self-join, no pivot shuffle beyond the single groupBy. With
    * `targetBand` the cube is kept and the index appended as a new band
    * (reference: indices.py:52-57), as one union of the grouped index rows
    * — no join against the original cube.
    *
    * Error contract (reference indices.py:15-57): DimensionAmbiguous when
    * no single bands dimension exists; NirBandAmbiguous / RedBandAmbiguous
    * when the named band is absent; BandExists when `targetBand` already
    * is a band. Band-presence checks run only against the cube's known band
    * labels (the reference checks xarray coords, which always exist
    * there); label-less cubes skip them rather than paying a job per call.
    */
  def ndvi(cube: DataCube, nir: String = "nir", red: String = "red",
      targetBand: Option[String] = None): DataCube = {
    val bd = cube.meta.bandDims match {
      case Seq(b) => b
      case _ => throw new IllegalArgumentException(
        "DimensionAmbiguous: dimension of type `bands` is not available " +
          "or is ambiguous")
    }
    val bandLabels = cube.labels.get(bd)
    bandLabels.foreach { ls =>
      if (!ls.contains(nir)) throw new IllegalArgumentException(
        "NirBandAmbiguous: the NIR band can't be resolved, please specify " +
          "the specific NIR band name")
      if (!ls.contains(red)) throw new IllegalArgumentException(
        "RedBandAmbiguous: the Red band can't be resolved, please specify " +
          "the specific Red band name")
    }
    targetBand.foreach { tb =>
      if (bandLabels.exists(_.contains(tb)))
        throw new IllegalArgumentException(
          "BandExists: a band with the specified target name exists")
    }
    val others = cube.meta.dimNames.filterNot(_ == bd)
    val v = cube.value
    val nirV = max(when(col(bd) === nir, v))
    val redV = max(when(col(bd) === red, v))
    val out = cube.df.groupBy(others.map(col): _*)
      .agg(((nirV - redV) / (nirV + redV)).as(cube.meta.valueCol))
    targetBand match {
      case None => DataCube(out, cube.meta.without(bd), cube.labels - bd)
      case Some(tb) =>
        val ndRows = out.withColumn(bd, lit(tb))
          .select(cube.df.columns.map(col).toIndexedSeq: _*)
        // every series gains a `tb` row (and a band-only cube always has
        // its one global series), so the known bands gain `tb` when there
        // are series, placed in the string column's (UTF-8 binary) order
        val bytes = Ordering.fromLessThan[String]((a, b) =>
          UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
        val withTb = bandLabels.filter(_.nonEmpty || others.isEmpty)
          .map(ls => bd -> (ls :+ tb).sorted(bytes))
        DataCube(cube.df.unionByName(ndRows), cube.meta, cube.labels ++ withTb)
    }
  }
}
