package graft

import org.scalatest.funsuite.AnyFunSuite

/** Two firewalls over the process-graph registry (ProcessGraph.scala):
  *
  * 1. REFERENCE COMPLETENESS — every name the reference exports (the union
  *    of module `__all__`s under
  *    openeo_processes_dask/process_implementations/, 135 names at
  *    reference version 2026.6.4) must resolve to a registry case, modulo
  *    the documented alias map (Python-keyword underscores, and the
  *    reference's `apply_neighborhood_intertwin` spelling of
  *    apply_neighborhood). A process implemented as a DataFrame operator
  *    but missing from the graph surface fails here — the graph is the
  *    reference's only real entry point (its README routes everything
  *    through the process graph).
  *
  * 2. EVIDENCE — every registry case must be EXERCISED through the graph
  *    surface: its name must appear as a `"process_id"` in a test spec or
  *    a driver query source. A node with neither needs an explicit waiver
  *    below, so silent coverage rot is impossible as the registry grows.
  *
  * Both checks parse the registry's `case "<name>"` arms straight out of
  * the source (registry arms sit at one exact indentation level; inner
  * dispatch matches sit deeper), and a third holds the engine's one
  * hand-kept id list, `ProcessGraph.BuiltinIds`, equal to those arms.
  */
class RegistryCompletenessSpec extends AnyFunSuite {

  private val registrySource = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("src/main/scala/graft/plans/ProcessGraph.scala")),
    "UTF-8")

  /** Registry arms: `case "x"` or `case "x" | "y"` at exactly the
    * registry match's indent.
    */
  private val registry: Set[String] =
    """(?m)^        case ("[a-z0-9_]+"(?:\s*\|\s*"[a-z0-9_]+")*)""".r
      .findAllMatchIn(registrySource)
      .flatMap(m => "\"([a-z0-9_]+)\"".r.findAllMatchIn(m.group(1)))
      .map(_.group(1)).toSet

  /** Reference export surface (union of `__all__`s, re-derived from the
    * read-only reference checkout; VERDICT r11 re-confirmed 135 names).
    */
  private val referenceExports: Seq[String] = Seq(
    "_all", "_and", "_any", "_if", "_int", "_max", "_min", "_not", "_or",
    "_round", "_sum", "absolute", "add", "add_dimension",
    "aggregate_spatial", "aggregate_temporal", "aggregate_temporal_period",
    "apply", "apply_dimension", "apply_kernel",
    "apply_neighborhood_intertwin", "arccos", "arcosh", "arcsin", "arctan",
    "arctan2", "array_append", "array_apply", "array_concat",
    "array_contains", "array_create", "array_create_labeled",
    "array_element", "array_filter", "array_find", "array_find_label",
    "array_interpolate_linear", "array_labels", "array_modify", "arsinh",
    "artanh", "between", "ceil", "clip", "constant", "cos", "cosh", "count",
    "create_data_cube", "cummax", "cummin", "cumproduct", "cumsum",
    "date_between", "date_difference", "date_shift", "ddmc",
    "dimension_labels", "divide", "drop_dimension", "e", "eq", "exp",
    "extrema", "filter_bands", "filter_bbox", "filter_labels",
    "filter_spatial", "filter_temporal", "first", "fit_curve",
    "fit_regr_random_forest", "floor", "gt", "gte", "inspect",
    "is_infinite", "is_nan", "is_nodata", "is_valid", "last",
    "linear_scale_range", "ln", "load_geojson", "load_stac",
    "load_vector_cube", "log", "lt", "lte", "mask", "mask_polygon", "mean",
    "median", "merge_cubes", "mod", "multiply", "nan", "ndvi", "neq",
    "normalized_difference", "order", "pi", "power", "predict_curve",
    "predict_random_forest", "product", "quantiles", "rearrange",
    "reduce_dimension", "reduce_spatial", "rename_dimension",
    "rename_labels", "resample_cube_spatial", "resample_cube_temporal",
    "resample_spatial", "rqadeforestation", "run_udf", "sd", "sgn", "sin",
    "sinh", "sort", "sqrt", "subtract", "tan", "tanh", "text_begins",
    "text_concat", "text_contains", "text_ends", "trim_cube", "variance",
    "vector_buffer", "vector_reproject", "xor")

  /** Reference name → registry name where the spellings differ: the
    * reference prefixes Python keywords/builtins with `_` (its registry
    * strips the underscore at registration), and names its
    * apply_neighborhood `apply_neighborhood_intertwin`.
    */
  private val aliases: Map[String, String] = Map(
    "_all" -> "all", "_and" -> "and", "_any" -> "any", "_if" -> "if",
    "_int" -> "int", "_max" -> "max", "_min" -> "min", "_not" -> "not",
    "_or" -> "or", "_round" -> "round", "_sum" -> "sum",
    "apply_neighborhood_intertwin" -> "apply_neighborhood")

  test("reference surface is fully present (135 exports resolve)") {
    assert(referenceExports.size == 135)
    assert(registry.size >= 135,
      s"registry parse found only ${registry.size} arms — indentation drift?")
    val missing = referenceExports
      .map(n => aliases.getOrElse(n, n)).filterNot(registry.contains)
    assert(missing.isEmpty,
      s"reference processes absent from the graph registry: $missing")
  }

  test("the built-in id set the graph check accepts is exactly the registry's arms") {
    val builtins = graft.plans.ProcessGraph.BuiltinIds
    assert(registry.contains("fit_class_random_forest"),
      "registry parse misses `|` alternatives")
    assert(builtins == registry,
      s"BuiltinIds without an arm: ${(builtins -- registry).toSeq.sorted}; " +
        s"arms missing from BuiltinIds: ${(registry -- builtins).toSeq.sorted}")
  }

  /** Registry nodes with no graph-level exercise yet. Keep this list
    * SHRINKING: an entry here means the node has a unit-tested operator
    * but no test or driver query drives it through a process graph.
    */
  private val waived: Map[String, String] = Map.empty

  test("every registry arm has graph-surface evidence or an explicit waiver") {
    def filesUnder(dir: String): Seq[java.nio.file.Path] = {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) Nil
      else {
        val s = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        } finally s.close()
      }
    }
    val evidenceText =
      (filesUnder("src/test/scala/graft") ++
        filesUnder("src/main/scala/graft/queries"))
        .filterNot(_.toString.endsWith("RegistryCompletenessSpec.scala"))
        .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .mkString("\n")
    // GraphSweepSpec/GraphTailSpec are DEDICATED graph-exercise suites:
    // their parametric tables interpolate the process_id, so a quoted
    // name there is a sweep-manifest entry
    val sweepText = Seq("src/test/scala/graft/GraphSweepSpec.scala",
      "src/test/scala/graft/GraphTailSpec.scala")
      .map(p => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")).mkString("\n")
    def evidenced(n: String): Boolean =
      evidenceText.contains(s""""process_id": "$n"""") ||
        evidenceText.contains(s""""process_id":"$n"""") ||
        sweepText.contains(s""""$n"""")
    val missing = registry.filterNot(n => evidenced(n) || waived.contains(n))
    assert(missing.isEmpty,
      s"registry arms with no graph-level exercise and no waiver: " +
        s"${missing.toSeq.sorted}")
    val stale = waived.keySet.filter(n => !registry.contains(n) || evidenced(n))
    assert(stale.isEmpty,
      s"waivers that are stale (gone from the registry or now evidenced): " +
        s"${stale.toSeq.sorted}")
  }
}
