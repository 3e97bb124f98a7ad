package graft.operators

import graft.core._
import org.apache.spark.sql.functions._

/** Cube-dimension utilities
  * (reference: openeo_processes_dask/process_implementations/cubes/general.py).
  */
object CubeDimOps {

  /** Add a size-1 labeled dimension; error if it exists
    * (reference: cubes/general.py:72-100).
    */
  def addDimension(cube: DataCube, name: String, label: String,
      dimType: DimType = DimType.Other): DataCube = {
    require(!cube.meta.has(name), s"DimensionLabelCountMismatch: '$name' exists")
    // every row holds `label`, so the dim's labels are known when a known
    // label list tells whether there are rows
    val added = cube.labels.values.headOption.map(ls =>
      name -> (if (ls.isEmpty) Nil else Seq(label)))
    DataCube(
      cube.df.withColumn(name, lit(label)),
      cube.meta.copy(dims = cube.meta.dims :+ CubeDim(name, dimType)),
      cube.labels ++ added)
  }

  /** Drop a dimension that holds at most one label
    * (reference: cubes/general.py:26-35).
    */
  def dropDimension(cube: DataCube, name: String): DataCube = {
    cube.requireDim(name)
    val n = cube.labelsOf(name).size
    require(n <= 1, s"DimensionLabelCountMismatch: '$name' has $n labels")
    DataCube(cube.df.drop(name), cube.meta.without(name), cube.labels - name)
  }

  /** Rename a dimension, keeping its type (reference: cubes/general.py:103-147). */
  def renameDimension(cube: DataCube, from: String, to: String): DataCube = {
    cube.requireDim(from)
    require(!cube.meta.has(to), s"DimensionExists: '$to'")
    DataCube(cube.df.withColumnRenamed(from, to), cube.meta.renamed(from, to))
  }

  /** Relabel values of a dimension via a source→target mapping — the
    * unchecked remap core (reference: cubes/general.py:150-222); unmatched
    * labels pass through unchanged.
    */
  def renameLabels(cube: DataCube, dimension: String,
      mapping: Map[String, String]): DataCube = {
    cube.requireDim(dimension)
    val m = map(mapping.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    // the fallback arm casts to string too: on a numeric dim the coalesce
    // would otherwise coerce to the COLUMN type and die casting the new
    // string label — renamed labels are names, the dim becomes string
    cube.withDf(_.withColumn(dimension,
      coalesce(element_at(m, col(dimension).cast("string")),
        col(dimension).cast("string"))))
  }

  /** rename_labels with the reference's full error semantics
    * (reference: cubes/general.py:150-222):
    *
    *  - LabelMismatch — `source` non-empty and lengths differ, or empty
    *    `source` with more targets than labels;
    *  - LabelExists — a target label collides with an existing label;
    *  - LabelNotAvailable — a `source` label is absent from the dimension;
    *  - LabelsNotEnumerated — empty `source` with fewer targets than labels
    *    on a dimension not enumerated from 0.
    *
    * Empty `source` means positional relabeling over the sorted label list.
    */
  def renameLabelsChecked(cube: DataCube, dimension: String,
      target: Seq[String], source: Seq[String] = Nil): DataCube = {
    cube.requireDim(dimension)
    if (source.nonEmpty && source.size != target.size)
      throw new IllegalArgumentException(
        "LabelMismatch - The number of labels in `source` and `target` don't match.")
    // labels in NATIVE order: numeric/enumerated dims sort numerically
    // (0,1,2,…,10), not lexically, or positional and enumerated-prefix
    // renames map the wrong labels (reference general.py:171-204 keeps
    // coord order)
    val labels = cube.labelsOf(dimension)
    if (labels.exists(target.contains))
      throw new IllegalArgumentException(
        "LabelExists - A label with the specified name exists.")
    val mapping: Map[String, String] =
      if (source.nonEmpty) {
        source.find(s => !labels.contains(s)).foreach(s =>
          throw new IllegalArgumentException(
            s"LabelNotAvailable - A label with the specified name does not exist: $s"))
        source.zip(target).toMap
      } else if (labels.size == target.size) {
        labels.zip(target).toMap
      } else if (target.size < labels.size) {
        if (!labels.contains("0"))
          throw new IllegalArgumentException(
            "LabelsNotEnumerated - The dimension labels are not enumerated.")
        labels.take(target.size).zip(target).toMap
      } else throw new IllegalArgumentException(
        "LabelMismatch - The number of labels in `source` and `target` don't match.")
    renameLabels(cube, dimension, mapping)
  }

  /** Distinct labels of a dim, ordered (reference: cubes/general.py:59-69). */
  def dimensionLabels(cube: DataCube, dimension: String): org.apache.spark.sql.DataFrame = {
    cube.requireDim(dimension)
    cube.df.select(col(dimension).as("label")).distinct().orderBy(col("label"))
  }

  /** openEO `flatten_dimensions` (openeo-processes spec proposal; NOT in
    * the reference's export surface — a beyond-reference spec process):
    * combine several dimensions into ONE, whose labels are the source
    * labels joined by `labelSeparator` in the order given. On the
    * relational cube this is a pure projection — zero shuffles, zero
    * actions; `concat` (not `concat_ws`) so a null source label yields a
    * null flattened label instead of silently dropping a component (which
    * would make the label un-round-trippable).
    */
  def flattenDimensions(cube: DataCube, dimensions: Seq[String],
      target: String, labelSeparator: String = "~"): DataCube = {
    require(dimensions.nonEmpty, "flatten_dimensions: `dimensions` is empty")
    dimensions.foreach(cube.requireDim)
    val remaining = cube.meta.dimNames.filterNot(dimensions.contains)
    require(!remaining.contains(target) && target != cube.meta.valueCol,
      s"DimensionExists: '$target'")
    val pieces = dimensions.map(d => col(d).cast("string"))
    val label = concat(pieces.head +: pieces.tail.flatMap(p =>
      Seq(lit(labelSeparator), p)): _*)
    DataCube(
      dimensions.foldLeft(cube.df.withColumn(target, label))((d, c) => d.drop(c)),
      cube.meta.copy(dims =
        cube.meta.dims.filterNot(d => dimensions.contains(d.name)) :+
          CubeDim(target, DimType.Other)))
  }

  /** openEO `unflatten_dimension` (spec proposal, the inverse of
    * [[flattenDimensions]]): split one dimension's labels on
    * `labelSeparator` into several dimensions. A label that does not split
    * into exactly `targets.size` parts fails the JOB loudly through a
    * distributed raise_error guard (same discipline as the merge/filter
    * wire errors) — never a silent null dimension.
    */
  def unflattenDimension(cube: DataCube, dimension: String,
      targets: Seq[String], labelSeparator: String = "~"): DataCube = {
    cube.requireDim(dimension)
    require(targets.nonEmpty, "unflatten_dimension: `targets` is empty")
    val remaining = cube.meta.dimNames.filterNot(_ == dimension)
    targets.foreach { t =>
      require(!remaining.contains(t) && t != cube.meta.valueCol,
        s"DimensionExists: '$t'")
    }
    val parts = split(col(dimension).cast("string"),
      java.util.regex.Pattern.quote(labelSeparator), -1)
    val outCols = targets.zipWithIndex.map { case (t, i) =>
      when(size(parts) === targets.size, element_at(parts, i + 1))
        .otherwise(raise_error(concat(
          lit(s"unflatten_dimension: label '"), col(dimension).cast("string"),
          lit(s"' does not split into ${targets.size} parts on " +
            s"'$labelSeparator'"))).cast("string"))
        .as(t)
    }
    val kept = cube.df.columns.toSeq.filterNot(_ == dimension).map(col)
    DataCube(
      cube.df.select(kept ++ outCols: _*),
      cube.meta.copy(dims =
        cube.meta.dims.filterNot(_.name == dimension) ++
          targets.map(t => CubeDim(t, DimType.Other))))
  }

  /** Drop labels (along every non-spatial dim) whose cells are all nodata
    * (reference: cubes/general.py:42-56). Implemented as a windowed
    * valid-count per label — one shuffle per trimmed dim, no driver loop.
    */
  def trimCube(cube: DataCube, dims: Seq[String]): DataCube = {
    import org.apache.spark.sql.expressions.Window
    dims.foldLeft(cube) { (c, d) =>
      c.requireDim(d)
      val w = Window.partitionBy(col(d))
      c.withDf(_.withColumn("_valid", count(c.value).over(w))
        .filter(col("_valid") > 0).drop("_valid"))
    }
  }
}
