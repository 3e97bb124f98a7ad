package graft.plans

import graft.core._
import graft.functions.{ArrayFns, Reducers, Scalar}
import graft.operators._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** OpenEO process-graph front end (SURVEY.md §3.4).
  *
  * The reference delegates graph parsing/execution to the external
  * `openeo-pg-parser-networkx` package and executes node-by-node in graph
  * order with no optimizer (reference: README.md:11, core.py:16-103). Here
  * the graph COMPILES: scalar callback sub-graphs become single Catalyst
  * Column trees (fused by whole-stage codegen), reducer sub-graphs become
  * aggregate Columns, and cube-level nodes chain DataCube operators — the
  * result is one unexecuted DataFrame whose logical plan Catalyst then
  * analyzes and optimizes across ALL nodes at once. `ParameterReference`
  * (`from_parameter`) resolution mirrors core.py:44-69.
  *
  * Graph format: `{"process_graph": {nodeId: {"process_id": ...,
  * "arguments": {...}, "result": true}}}` with `{"from_node": id}` and
  * `{"from_parameter": name}` references and nested
  * `{"process_graph": ...}` callbacks — the standard OpenEO wire format.
  * Like the reference's parser, the document is parsed into a [[Graph]]
  * IR and checked as a whole before any node runs.
  */
object ProcessGraph {

  /** Runtime values a node can produce. */
  sealed trait PValue
  final case class CubeV(cube: DataCube) extends PValue
  /** A non-cube relational result — vector cubes (load_geojson /
    * load_vector_cube / vector_*) and label tables (dimension_labels,
    * rqadeforestation summaries). The reference passes geopandas /
    * xr.Dataset objects between such nodes; here it's an unexecuted
    * DataFrame like everything else.
    */
  final case class TableV(df: org.apache.spark.sql.DataFrame) extends PValue
  /** A fitted model flowing fit_* → predict_* (the reference passes the
    * model object through the graph the same way, ml/random_forest.py).
    * `features` pins the assembler's column order so predict uses exactly
    * the training layout.
    */
  final case class ModelV(model: AnyRef, features: Seq[String]) extends PValue
  final case class ColV(col: Column) extends PValue
  /** A LABELED array (openEO array_create_labeled): a labels→values map
    * column. A distinct PValue so the labeled-array error contract
    * (ArrayLabelConflict, ArrayElementNotAvailable by label) dispatches
    * structurally, the way the reference dispatches on xr.DataArray vs
    * ndarray (reference arrays.py:49-63); generic consumers unwrap it to
    * the raw map column via `column(...)`.
    */
  final case class LabeledV(col: Column) extends PValue
  final case class NumV(v: Double) extends PValue
  final case class StrV(v: String) extends PValue
  final case class BoolV(v: Boolean) extends PValue
  final case class ArrV(v: Seq[PValue]) extends PValue
  /** A JSON object argument that is not a node or parameter reference nor
    * a callback: a GeoJSON geometry, an extent or an options map, kept as
    * the parsed JSON the graph was read into.
    */
  final case class ObjV(v: JObject) extends PValue
  /** A callback argument, parsed and checked with its enclosing graph. */
  final case class CallbackV(graph: Graph) extends PValue
  case object NullV extends PValue

  /** A node argument, decoded once when the graph is parsed. */
  sealed trait Arg
  final case class NodeRef(id: String) extends Arg
  final case class ParamRef(name: String) extends Arg
  final case class Callback(graph: Graph) extends Arg
  final case class Lit(v: PValue) extends Arg
  final case class ArrArg(xs: Seq[Arg]) extends Arg

  final case class Node(id: String, processId: String, args: Map[String, Arg])

  /** A parsed process graph: its nodes by id and its one result node.
    * The facts the callback sites dispatch on are computed at most once.
    */
  final case class Graph(nodes: Map[String, Node], result: Node) {
    /** the nodes of this graph and of its callbacks, nested ones included */
    private lazy val allNodes: Seq[Node] = nodes.values.toSeq.flatMap(n =>
      n +: n.args.values.toSeq.flatMap(leaves)
        .collect { case Callback(g) => g }.flatMap(_.allNodes))
    /** every node is a plain statistical aggregate — the shape
      * [[graft.operators.ReduceOps.reduceDimension]]'s map-side-combine
      * path handles. Anything else (band math over `array_element`,
      * scalar composition) gets the ordered-array reduce, which is the
      * general openEO semantics at the cost of a collect_list per group.
      */
    private[plans] lazy val plainAggregate: Boolean =
      nodes.values.forall(n => PlainAggregates(n.processId))
    /** no array-aware process anywhere — a pure element-wise scalar chain */
    private[plans] lazy val elementwise: Boolean =
      !allNodes.exists(n => arrayAware(n.processId))
    private[plans] lazy val lengthPreserving: Boolean =
      LengthPreservingIds(result.processId)
    /** an `array_element` reads by `label`, so needs the dimension labels */
    private[plans] lazy val readsLabels: Boolean = allNodes.exists(n =>
      n.processId == "array_element" && n.args.contains("label"))
    private[plans] lazy val chainPlan: Option[ChainPlan] = planChain(this)
  }

  /** an argument's references, callbacks and literals, arrays flattened */
  private def leaves(a: Arg): Seq[Arg] = a match {
    case ArrArg(xs) => xs.flatMap(leaves)
    case x => Seq(x)
  }

  /** Implementation signature for USER-REGISTERED processes: evaluated
    * arguments plus a callback runner (`(graph, params) => PValue`) so
    * custom processes can accept child process graphs. A callback
    * argument arrives parsed and checked, as `CallbackV(g)`; the runner
    * takes its `g`. Return `CubeV` for cube-level processes or `ColV` for
    * scalar processes — scalar registrations become usable inside
    * apply/reduce callbacks exactly like built-ins.
    */
  type CustomProcess =
    (Map[String, PValue], (Graph, Map[String, PValue]) => PValue) => PValue

  private val customProcesses =
    scala.collection.concurrent.TrieMap.empty[String, CustomProcess]

  /** Register a custom process under `pid`, mirroring the reference's
    * extensible process registry (process_implementations/core.py:16-84
    * wraps arbitrary user functions for registration): after this call any
    * graph may use `pid` as a node or inside a callback. A custom process
    * SHADOWS a built-in of the same id — latest registration wins, which
    * is also how a deployment patches one process without forking the
    * engine. Registration is process-wide (all sessions of this JVM).
    */
  def registerProcess(pid: String, impl: CustomProcess): Unit =
    customProcesses.put(pid, impl)

  /** Remove a custom process; built-ins reappear if shadowed. */
  def unregisterProcess(pid: String): Unit = customProcesses.remove(pid)

  /** Execute a process-graph JSON document. `collections` resolves
    * `load_collection` ids to cubes (the engine's equivalent of the
    * backend's catalog).
    */
  def execute(spark: SparkSession, json: String,
      collections: String => DataCube): DataCube =
    executeValue(spark, json, collections) match {
      case CubeV(c) => c
      case other => throw new IllegalArgumentException(
        s"graph result is not a cube: $other")
    }

  /** Like [[execute]] but returns whatever the result node produced —
    * needed for graphs ending in a vector/table node (dimension_labels,
    * vector_buffer, rqadeforestation) or a fitted model.
    */
  def executeValue(spark: SparkSession, json: String,
      collections: String => DataCube): PValue = {
    val root = JsonMethods.parse(json)
    val graph = parse((root \ "process_graph").toOption.getOrElse(root))
    check(graph)
    evalGraph(graph, Map.empty, collections)
  }

  private def invalid(what: String) =
    new IllegalArgumentException(s"ProcessGraphInvalid: $what")

  /** A `process_graph` object, callbacks included, as a [[Graph]]. */
  private def parse(pg: JValue): Graph = pg match {
    case JObject(fields) =>
      val byId = fields.map { case (id, body) =>
        val pid = (body \ "process_id") match {
          case JString(s) => s
          case _ => throw new IllegalArgumentException(s"node $id: no process_id")
        }
        val args = (body \ "arguments") match {
          case JObject(a) => a.map { case (k, v) => k -> parseArg(v) }.toMap
          case _ => Map.empty[String, Arg]
        }
        id -> Node(id, pid, args)
      }.toMap
      fields.collect { case (id, body) if (body \ "result") == JBool(true) => id } match {
        case Seq(r) => Graph(byId, byId(r))
        case rs => throw invalid("need exactly one result node, found " +
          (if (rs.isEmpty) "none" else rs.mkString(", ")))
      }
    case _ => throw new IllegalArgumentException("process graph must be an object")
  }

  private def parseArg(j: JValue): Arg = j match {
    case JObject(fields) =>
      def ref(key: String): Option[String] = fields.collectFirst {
        case (`key`, JString(s)) => s
        case (`key`, v) => throw new IllegalArgumentException(
          s"$key: not a string (${JsonMethods.compact(JsonMethods.render(v))})")
      }
      (ref("from_node"), ref("from_parameter"), j \ "process_graph") match {
        case (Some(id), _, _) => NodeRef(id)
        case (_, Some(p), _) => ParamRef(p)
        case (_, _, g: JObject) => Callback(parse(g))
        // GeoJSON geometries, extents and options maps stay JSON
        case _ => Lit(literal(j))
      }
    case JArray(xs) => ArrArg(xs.map(parseArg))
    case _ => Lit(literal(j))
  }

  /** Reject a graph that cannot run before any node does: a dangling
    * `from_node`, a cycle, an unknown process id, or a root-graph
    * parameter (callback parameters are bound, and checked, when the
    * callback runs).
    */
  private def check(g: Graph, isRoot: Boolean = true): Unit = {
    val done = scala.collection.mutable.Set.empty[String]
    // depth-first along references; `path` holds the ids being visited
    def visit(id: String, path: List[String]): Unit = if (!done(id)) {
      if (path.contains(id)) throw invalid("cycle " +
        (path.reverse.dropWhile(_ != id) :+ id).mkString(" -> "))
      val n = g.nodes(id)
      if (!BuiltinIds(n.processId) && !customProcesses.contains(n.processId))
        throw new IllegalArgumentException(s"ProcessUnsupported: ${n.processId}")
      n.args.values.flatMap(leaves).foreach {
        case NodeRef(r) if !g.nodes.contains(r) =>
          throw invalid(s"node $id: from_node $r is not in its graph")
        case NodeRef(r) => visit(r, id :: path)
        case ParamRef(p) if isRoot => throw new IllegalArgumentException(
          s"ProcessParameterMissing: $p (the root graph has no parameters)")
        case Callback(cb) => check(cb, isRoot = false)
        case _ =>
      }
      done += id
    }
    g.nodes.keys.foreach(visit(_, Nil))
  }

  /** The most labels an apply_dimension callback may fold over as an
    * O(n²)-per-series array (see the guard in the apply_dimension arm).
    */
  private val FoldMaxLabels = 8192

  /** Statistical reducers with a partial-aggregation fast path. */
  private val PlainAggregates = Set("mean", "sum", "min", "max", "median",
    "sd", "variance", "count", "product", "extrema", "any", "all",
    "first", "last", "quantiles")

  /** Process ids whose `data` argument means "the whole series array"
    * inside an apply_dimension / reduce_dimension callback — anything NOT
    * in this family (and not an `array_*` process) is an element-wise
    * scalar process that broadcasts over the series, numpy-style
    * (reference cubes/apply.py:42-128 hands the axis array to the
    * callback; `data * 2` there is element-wise).
    */
  private val ArrayAwareIds: Set[String] = PlainAggregates ++ Set(
    "sort", "order", "rearrange", "cumsum", "cummax", "cummin",
    "cumproduct", "array_interpolate_linear")

  private def arrayAware(pid: String): Boolean =
    ArrayAwareIds(pid) || pid.startsWith("array_")

  /** Process ids with O(n) cube-level WINDOW twins along a dimension. An
    * apply_dimension callback that is a LINEAR chain of only these
    * compiles to chained window operators — no series array is ever
    * materialised. This is the scale path: the interpreted array folds
    * are O(n²) per series (each `aggregate` step copies the accumulator
    * array), which the sf0.1 bench measured at 88 s on a 20k-label
    * dimension; the window compilation of the same callback runs in
    * 0.5 s and holds at any dimension cardinality.
    */
  private val WindowChainIds: Set[String] = Set(
    "cumsum", "cummax", "cummin", "cumproduct",
    "array_interpolate_linear", "sort")

  /** A compiled apply_dimension chain segment: either a window-class
    * process with an O(n) cube-level twin, or a maximal run of
    * element-wise scalar nodes compiled to ONE zero-shuffle projection
    * (a synthetic callback graph over `data`, with references to
    * side-branch nodes rewired to `_sb_<id>` parameters).
    */
  private[plans] sealed trait ChainSeg
  private[plans] final case class WinSeg(pid: String, asc: Boolean)
    extends ChainSeg
  private[plans] final case class ScalSeg(graph: Graph) extends ChainSeg

  /** A compiled chain: its segments first-to-last, and its head-anchored
    * side branches. `aggs` are aggregate nodes over the raw series
    * (`mean(data)`, `sd(data)`, …) that compile to window aggregates
    * partitioned by the series dims — the SAME partitioning the chain's
    * window ops use, so they add no shuffle; `combos` are scalar
    * combinations of those per-series constants
    * (`subtract(max(data), min(data))`), in dependency order, each a
    * synthetic single-node callback whose static references are
    * `_sb_<id>` parameters.
    */
  private[plans] final case class ChainPlan(segs: Seq[ChainSeg],
      aggs: Seq[(String, String)], combos: Seq[(String, Graph)])

  /** Aggregate process ids with window twins usable as head-anchored
    * side branches (openEO's numpy broadcast of a per-series statistic
    * over the series, reference cubes/apply.py:42-128 — e.g.
    * `subtract(data, mean(data))`).
    */
  private val WindowAggIds: Set[String] = Set(
    "mean", "sum", "min", "max", "count", "median", "sd", "variance",
    "product")

  /** Window twin of a head-anchored side-branch aggregate: evaluated
    * over the full series partition (no ordering, no frame), null-
    * skipping — matching the openEO aggregates' ignore_nodata=true
    * default and the array-fold twins in ArrayFns.
    */
  private def headAggCol(pid: String, v: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column = pid match {
    case "mean" => avg(v).over(w)
    case "sum" => sum(v).over(w)
    case "min" => min(v).over(w)
    case "max" => max(v).over(w)
    case "count" => count(v).over(w)
    case "median" => median(v).over(w)
    case "sd" => stddev_samp(v).over(w)
    case "variance" => var_samp(v).over(w)
    case "product" => graft.functions.ProductAgg.column(v).over(w)
    case other => throw new IllegalArgumentException(
      s"no window twin for side-branch aggregate $other")
  }

  /** The callback as a linear chain of window-class nodes and
    * interleaved element-wise scalar nodes — plus head-anchored
    * aggregate side branches — first-to-last; or None when the data flow
    * isn't such a chain rooted at the `data` parameter (array-aware
    * processes in the chain, aggregates of intermediate nodes, fan-out
    * of the series into non-aggregate consumers, and non-literal extra
    * arguments all bail to the safe array-fold path). Mixed shapes like
    * `multiply(cumsum(data), 2)` and broadcast shapes like
    * `subtract(data, mean(data))` — the commonest composed callbacks
    * under the openEO ordered-array contract — thereby stay on the O(n)
    * window path: scalar steps become projections between (or around)
    * the window operators, sharing one series shuffle.
    */
  private def planChain(g: Graph): Option[ChainPlan] = {
    val ns = g.nodes

    // any series/node reference inside an argument — used to reject
    // nodes whose NON-chain arguments are not plain literals
    // (conservative: those callbacks take the safe path)
    def hasRef(a: Arg): Boolean = a match {
      case NodeRef(_) => true
      case ParamRef(p) => p == "data" || p == "x"
      case ArrArg(xs) => xs.exists(hasRef)
      case Callback(cb) => cb.nodes.values.exists(_.args.values.exists(hasRef))
      case Lit(_) => false
    }
    def nodeRef(a: Arg): Option[String] = a match {
      case NodeRef(id) => Some(id)
      case _ => None
    }
    def isHead(a: Arg): Boolean = a == ParamRef("data") || a == ParamRef("x")

    // static classification: a node is a per-series CONSTANT when it is
    // an aggregate of the raw series (head param) with default null
    // handling, or a scalar combination of literals and other static
    // nodes. Memoised.
    val staticMemo = scala.collection.mutable.Map.empty[String, Boolean]
    def isStatic(id: String): Boolean = staticMemo.getOrElseUpdate(id, {
      val n = ns(id)
      n.processId match {
        case pid if WindowAggIds(pid) =>
          n.args.get("data").exists(isHead) && n.args.forall {
            case ("data", _) => true
            case ("ignore_nodata", Lit(BoolV(true))) => true
            case _ => false // any other arg bails to the fold
          }
        case pid if !arrayAware(pid) && !WindowChainIds(pid) =>
          n.args.values.forall(v => nodeRef(v).fold(!hasRef(v))(isStatic))
        case _ => false
      }
    })

    // (node, chain-arg name, static refs) from `id` back to the head
    // parameter, first-to-last; Nil when the flow is no such chain
    @scala.annotation.tailrec
    def walk(id: String, acc: List[(Node, String, Set[String])])
        : List[(Node, String, Set[String])] = {
      val n = ns(id)
      val isWin = WindowChainIds(n.processId)
      // classify arguments: the ONE argument carrying the series (a
      // direct node ref to a non-static node, or the head param),
      // direct refs to static side-branch nodes, and literals
      val chainArgs = n.args.filter { case (_, v) =>
        isHead(v) || nodeRef(v).exists(rid => !isStatic(rid))
      }
      val staticRefs = n.args.values.flatMap(nodeRef).filter(isStatic).toSet
      val otherRefs = n.args.exists { case (k, v) =>
        !chainArgs.contains(k) && nodeRef(v).isEmpty && hasRef(v)
      }
      // a non-boolean `asc` bails to the fold path, whose sort arm
      // rejects it by name
      val badAsc = n.args.get("asc").exists {
        case Lit(BoolV(_) | NullV) => false
        case _ => true
      }
      if ((!isWin && arrayAware(n.processId)) || chainArgs.size != 1 ||
          otherRefs || (isWin && (!chainArgs.contains("data") ||
            staticRefs.nonEmpty || badAsc))) Nil
      else {
        val (argName, argVal) = chainArgs.head
        val chain = (n, argName, staticRefs) :: acc
        nodeRef(argVal) match {
          case Some(prev) => walk(prev, chain)
          case None => chain // head param
        }
      }
    }
    val chain = walk(g.result.id, Nil)

    // side-branch closure: every static node referenced from the chain,
    // plus their static dependencies, in dependency order
    val sideOrder = scala.collection.mutable.LinkedHashMap.empty[String, Node]
    def addSide(id: String): Unit = if (!sideOrder.contains(id)) {
      ns(id).args.values.flatMap(nodeRef).foreach(addSide)
      sideOrder.put(id, ns(id))
    }
    chain.foreach { case (_, _, refs) => refs.foreach(addSide) }
    val chainIds = chain.map(_._1.id).toSet
    val worthIt =
      chain.exists { case (n, _, _) => WindowChainIds(n.processId) } ||
        sideOrder.nonEmpty
    if (chainIds ++ sideOrder.keySet != ns.keySet ||
        chainIds.exists(sideOrder.contains) || !worthIt) return None

    // a node with its chain argument rewired to the `data` parameter and
    // its static references to `_sb_<id>` parameters
    def rewire(n: Node, chainArg: Option[String]): Node =
      n.copy(args = n.args.map {
        case (k, _) if chainArg.contains(k) => k -> ParamRef("data")
        case (k, NodeRef(rid)) if isStatic(rid) => k -> ParamRef(s"_sb_$rid")
        case kv => kv
      })
    def graphOf(run: Seq[Node]): Graph =
      Graph(run.map(n => n.id -> n).toMap, run.last)

    val aggs = sideOrder.toSeq.collect {
      case (id, n) if WindowAggIds(n.processId) => id -> n.processId
    }
    val aggIds = aggs.map(_._1).toSet
    val combos = sideOrder.toSeq.collect {
      case (id, n) if !aggIds(id) => id -> graphOf(Seq(rewire(n, None)))
    }

    val segs = scala.collection.mutable.ListBuffer.empty[ChainSeg]
    var run = List.empty[(Node, String)]
    def flushRun(): Unit = if (run.nonEmpty) {
      // the first node of a run takes its series input from outside the
      // run (the previous window step or the callback head) — rewire it
      // to the `data` parameter; internal from_node references stay
      segs += ScalSeg(graphOf(run.zipWithIndex.map { case ((n, chainArg), i) =>
        rewire(n, if (i == 0) Some(chainArg) else None)
      }))
      run = Nil
    }
    chain.foreach { case (n, chainArg, _) =>
      if (WindowChainIds(n.processId)) {
        flushRun()
        segs += WinSeg(n.processId,
          !n.args.get("asc").contains(Lit(BoolV(false))))
      } else run = run :+ ((n, chainArg))
    }
    flushRun()
    Some(ChainPlan(segs.toList, aggs, combos))
  }

  /** Callback RESULT nodes statically known to keep series length — with
    * target == source dimension these preserve the dimension's labels
    * (the reference detects this at runtime by comparing axis lengths,
    * cubes/apply.py:96-103; these ids always match).
    */
  private val LengthPreservingIds: Set[String] = Set(
    "sort", "array_apply", "array_interpolate_linear",
    "cumsum", "cummax", "cummin", "cumproduct")

  /** A JSON value with no references in it, as a PValue. */
  private def literal(j: JValue): PValue = j match {
    case o: JObject => ObjV(o)
    case JString(s) => StrV(s)
    case JInt(i) => NumV(i.toDouble)
    case JDouble(d) => NumV(d)
    case JDecimal(d) => NumV(d.toDouble)
    case JLong(l) => NumV(l.toDouble)
    case JBool(b) => BoolV(b)
    case JArray(xs) => ArrV(xs.map(literal))
    case JNull | JNothing => NullV
    case JSet(xs) => ArrV(xs.toSeq.map(literal)) // json4s-internal, never parsed from wire JSON
  }

  private def evalGraph(g: Graph, params: Map[String, PValue],
      collections: String => DataCube): PValue = {
    val memo = scala.collection.mutable.Map.empty[String, PValue]

    def evalNode(id: String): PValue = memo.getOrElseUpdate(id, {
      val n = g.nodes(id)
      val args = n.args.map { case (k, v) => k -> evalArg(v) }
      // user registrations shadow built-ins (latest registration wins)
      customProcesses.get(n.processId).fold(
        Registry(n.processId, args, collections, params))(
        _(args, evalGraph(_, _, collections)))
    })

    def evalArg(a: Arg): PValue = a match {
      case NodeRef(id) => evalNode(id)
      case ParamRef(p) => params.getOrElse(p,
        throw new IllegalArgumentException(s"ProcessParameterMissing: $p"))
      case Callback(cb) => CallbackV(cb)
      case Lit(v) => v
      case ArrArg(xs) => ArrV(xs.map(evalArg))
    }

    evalNode(g.result.id)
  }

  /** The built-in process ids: one per registry arm below, in arm order
    * (`RegistryCompletenessSpec` keeps the two equal). `check` accepts these
    * and the registered custom processes.
    */
  private[graft] val BuiltinIds: Set[String] = Set(
    "load_collection", "filter_temporal", "filter_bands", "filter_bbox",
    "filter_labels", "apply", "apply_dimension", "apply_kernel",
    "reduce_dimension", "reduce_spatial", "aggregate_temporal",
    "aggregate_temporal_period", "climatological_normal", "anomaly",
    "apply_neighborhood", "resample_spatial", "run_udf", "mask_polygon",
    "filter_spatial", "filter_vector", "apply_polygon", "aggregate_spatial",
    "line_dedup", "quality_filter", "pii_redact", "normalize_text",
    "exact_dedup", "minhash_dedup_survivors", "lm_score", "dsir_weights",
    "split", "sample", "pack_sequences", "simhash_dedup_survivors",
    "ngram_jaccard_dedup", "decontaminate", "incremental_dedup", "semdedup",
    "bm25", "page_rank", "ann_topk", "pq_topk", "fuzzy_join", "chunk_docs",
    "heavy_hitters", "top_k", "quantiles_sketch", "distinct_count",
    "set_overlap", "drop_dimension", "rename_dimension", "flatten_dimensions",
    "unflatten_dimension", "aggregate_spatial_window", "save_result",
    "inspect", "trim_cube", "merge_cubes", "mask", "add_dimension",
    "rename_labels", "ndvi", "fit_curve", "predict_curve",
    "fit_regr_random_forest", "fit_class_random_forest", "save_ml_model",
    "load_ml_model", "predict_random_forest", "resample_cube_spatial",
    "resample_cube_temporal", "cumsum", "cummin", "cummax", "cumproduct",
    "array_interpolate_linear", "array_create_labeled", "array_find_label",
    "dimension_labels", "create_data_cube", "ddmc", "rqadeforestation",
    "vector_buffer", "vector_to_regular_points", "vector_to_random_points",
    "vector_reproject", "load_geojson", "load_result", "load_uploaded_files",
    "load_vector_cube", "load_stac", "add", "subtract", "multiply", "divide",
    "power", "sqrt", "ln", "exp", "absolute", "floor", "clip",
    "linear_scale_range", "e", "pi", "nan", "constant", "mod", "arctan2",
    "log", "normalized_difference", "ceil", "int", "round", "sgn", "sin",
    "cos", "tan", "arcsin", "arccos", "arctan", "sinh", "cosh", "tanh",
    "arsinh", "arcosh", "artanh", "is_nodata", "is_valid", "is_nan",
    "is_infinite", "gt", "lt", "gte", "lte", "eq", "between", "text_begins",
    "text_ends", "text_contains", "text_concat", "html_extract",
    "canonicalize_url", "registered_domain", "url_host", "lang_id",
    "token_count", "subword_count", "quality_score", "fingerprint",
    "content_hash", "redact_pii", "date_between", "date_difference",
    "date_shift", "array_element", "array_concat", "array_append",
    "array_contains", "array_apply", "array_filter", "array_create",
    "array_modify", "array_find", "array_labels", "sort", "order",
    "rearrange", "first", "last", "neq", "and", "or", "xor", "not", "if",
    "mean", "sum", "min", "max", "median", "sd", "variance", "count",
    "product", "extrema", "any", "all", "quantiles")

  /** The process registry: process_id → implementation over PValues.
    * Mirrors the reference's auto-registered ProcessRegistry
    * (core.py:97-103) with explicit registration.
    */
  private object Registry {

    /** `ctx` carries the parameter map of the graph evaluation this process
      * runs INSIDE — ambient context a node's own arguments can't express.
      * Today it holds one key: `_order`, the reduced dimension's column,
      * injected by ordered-reduce callers so position-dependent reducers
      * (first/last) aggregate by dimension order instead of erroring.
      */
    def apply(pid: String, args: Map[String, PValue],
        collections: String => DataCube, ctx: Map[String, PValue]): PValue = {
      def runCallback(cb: Graph, params: Map[String, PValue]): PValue =
        evalGraph(cb, params, collections)

      // Typed argument accessors: a wrong-typed value throws
      // `pid.name: not a <type> (v)`. The `opt*` forms apply their default
      // only when the argument is absent or null; any other type is an
      // error, not the default.
      def notA(name: String, what: String, v: PValue): Nothing =
        throw new IllegalArgumentException(s"$pid.$name: not $what ($v)")
      def arg(name: String): PValue = args.getOrElse(name,
        throw new IllegalArgumentException(s"ProcessParameterRequired: $pid.$name"))
      def cube(name: String): DataCube = arg(name) match {
        case CubeV(c) => c
        case v => notA(name, "a cube", v)
      }
      def table(name: String): org.apache.spark.sql.DataFrame = arg(name) match {
        case TableV(df) => df
        case CubeV(c) => c.df // a cube is also a table; vector ops accept both
        case v => notA(name, "a table", v)
      }
      /** a scalar literal or column, as array-process and text_concat
        * elements take them
        */
      def element(name: String, v: PValue): Column = v match {
        case NumV(x) => lit(x)
        case StrV(s) => lit(s)
        case BoolV(b) => lit(b)
        case NullV => lit(null)
        case ColV(c) => c
        case other => throw new IllegalArgumentException(
          s"$pid.$name: array element $other is not scalar")
      }
      def column(name: String): Column = arg(name) match {
        case LabeledV(c) => c
        case ArrV(xs) => array(xs.map(element(name, _)): _*) // literal arrays
        case v @ (ColV(_) | NumV(_) | StrV(_) | BoolV(_) | NullV) => element(name, v)
        case v => notA(name, "scalar", v)
      }
      def strOf(name: String, v: PValue): String = v match {
        case StrV(s) => s
        case v => notA(name, "a string", v)
      }
      def numOf(name: String, v: PValue): Double = v match {
        case NumV(x) => x
        case v => notA(name, "a number", v)
      }
      def arrOf(name: String, v: PValue): Seq[PValue] = v match {
        case ArrV(xs) => xs
        case v => notA(name, "an array", v)
      }
      def str(name: String): String = strOf(name, arg(name))
      def num(name: String): Double = numOf(name, arg(name))
      def arr(name: String): Seq[PValue] = arrOf(name, arg(name))
      def nums(name: String): Seq[Double] = arr(name).map(numOf(name, _))
      def strs(name: String): Seq[String] = arr(name).map(strOf(name, _))
      def opt(name: String): Option[PValue] =
        args.get(name).filterNot(_ == NullV)
      def optNum(name: String): Option[Double] = opt(name).map(_ => num(name))
      def optStr(name: String): Option[String] = opt(name).map(_ => str(name))
      def optBool(name: String, default: Boolean): Boolean =
        opt(name).fold(default) {
          case BoolV(b) => b
          case v => notA(name, "a boolean", v)
        }
      def objOf(name: String, v: PValue): JObject = v match {
        case ObjV(o) => o
        case v => notA(name, "an object", v)
      }
      def obj(name: String): JObject = objOf(name, arg(name))
      def callback(name: String): Graph = arg(name) match {
        case CallbackV(g) => g
        case v => notA(name, "a process graph", v)
      }
      /** a CRS: a string such as `EPSG:3857`, or an integral EPSG code n
        * as `EPSG:n`
        */
      def crs(name: String): String = arg(name) match {
        case StrV(s) => s
        case NumV(n) if n.isWhole => s"EPSG:${n.toLong}"
        case v => notA(name, "a CRS", v)
      }

      /** a [start, end] pair of nullable strings — openEO allows `null` for
        * an open temporal bound (reference: cubes/load.py:140-149)
        */
      def interval(name: String): (Option[String], Option[String]) = {
        def bound(v: PValue): Option[String] = v match {
          case NullV => None
          case StrV(s) => Some(s)
          case other => throw new IllegalArgumentException(
            s"$pid.$name: expected string or null, got $other")
        }
        arr(name) match {
          case Seq(s, e) => (bound(s), bound(e))
          case v => notA(name, "a [start, end] pair", ArrV(v))
        }
      }

      /** the optional `dimension` argument naming a dimension of `c`;
        * absent or null, `default`, else the cube's first dimension
        */
      def idDimOf(c: DataCube, default: Option[String] = None): String = {
        val d = optStr("dimension").orElse(default).getOrElse(c.meta.dimNames.head)
        c.requireDim(d)
        d
      }

      /** an openEO bounding-box object argument as (west, south, east,
        * north)
        */
      def bbox(name: String): (Double, Double, Double, Double) = {
        val e = obj(name)
        def d(f: String) = numOf(s"$name.$f", literal(e \ f))
        (d("west"), d("south"), d("east"), d("north"))
      }
      /** the load processes' `spatial_extent`, if given */
      def spatialExtent: Option[(Double, Double, Double, Double)] =
        opt("spatial_extent").map(_ => bbox("spatial_extent"))

      /** The openEO `context` argument, forwarded into callback graphs as
        * the `context` parameter ({"from_parameter": "context"} — the
        * reference threads it through every cube process's callback).
        */
      def callbackContext: Map[String, PValue] =
        args.get("context").map("context" -> _).toMap

      /** a callback's result as a Column: a column, a constant number
        * where `lits`, and a labeled array's raw map where `labeled`;
        * anything else throws `what v`
        */
      def asColumn(result: PValue, what: String, lits: Boolean = true,
          labeled: Boolean = false): Column = result match {
        case ColV(out) => out
        case LabeledV(out) if labeled => out
        case NumV(v) if lits => lit(v)
        case v => throw new IllegalArgumentException(s"$what $v")
      }

      /** run a callback sub-graph as a scalar Column→Column process
        * (reference: `apply`'s `process` argument)
        */
      def scalarCallback(name: String): Column => Column = {
        val cb = callback(name)
        c => asColumn(runCallback(cb,
          Map("x" -> ColV(c), "data" -> ColV(c)) ++ callbackContext),
          "callback returned", labeled = true)
      }

      /** Polygon outer rings of the GeoJSON object argument `name`
        * (Polygon / Feature / FeatureCollection), with zone ids from feature
        * `properties.id` (else the feature index) — the graph-side twin of
        * the reference's geopandas parsing.
        */
      def rings(name: String): Seq[(String, graft.geo.Geo.Ring)] = {
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        val root = obj(name)
        def polyRing(geom: JValue): Option[graft.geo.Geo.Ring] =
          (geom \ "type") match {
            case JString("Polygon") =>
              Some((geom \ "coordinates").extract[List[List[List[Double]]]]
                .head.map(c => (c(0), c(1))))
            case _ => None
          }
        val out = (root \ "type") match {
          case JString("Polygon") => polyRing(root).map("0" -> _).toSeq
          case JString("Feature") => polyRing(root \ "geometry").map("0" -> _).toSeq
          case JString("FeatureCollection") =>
            (root \ "features").extract[List[JValue]].zipWithIndex.flatMap {
              case (f, i) =>
                polyRing(f \ "geometry").map { r =>
                  val id = (f \ "properties" \ "id") match {
                    case JString(s) => s
                    case _ => i.toString
                  }
                  id -> r
                }
            }
          case _ => Nil
        }
        if (out.isEmpty) throw new IllegalArgumentException(
          s"GeometryInvalid: no polygon in $pid.$name")
        out
      }

      /** resample_spatial's aggregating-method dispatch over a (possibly
        * projection-warped) cube
        */
      def resampleByMethod(c: DataCube, res: Double): PValue =
        CubeV(ResampleOps.resampleByMethod(c, res, res, str("method")))

      /** run a reducer sub-graph as an aggregate Column builder; `order`
        * (the reduced dimension's column) flows into the callback's context
        * so ordered reducers (first/last) can aggregate by dimension order
        */
      def reducerCallback(name: String, order: Option[Column] = None): Column => Column = {
        val cb = callback(name)
        val ctx = order.map(o => "_order" -> ColV(o)).toMap ++ callbackContext
        c => asColumn(runCallback(cb, Map("data" -> ColV(c)) ++ ctx),
          "reducer returned", lits = false)
      }

      /** the label context of an ordered-array callback, set only when
        * the callback has an `array_element` node with a `label` argument:
        * `_labels`, the dimension's labels for the driver-side check, and
        * `_keys`, each series' own labels as text (the `_keys` column of
        * [[DataCube.series]]), which a sparse series does not share
        */
      def labelContext(cb: Graph, labels: => Seq[String]): Map[String, PValue] =
        if (!cb.readsLabels) Map.empty
        else Map("_labels" -> ArrV(labels.map(StrV)),
          "_keys" -> ColV(transform(col("_keys"), _.cast("string"))))

      /** a statistical reducer: the array fold inside an `_array` reduce,
        * else the partial-aggregation aggregate
        */
      def reducer(arrayForm: Column => Column,
          aggForm: Column => Column): PValue =
        ColV(if (ctx.contains("_array")) arrayForm(column("data"))
        else aggForm(column("data")))

      /** a cumulative or interpolating process: the array fold over a
        * series array (inside an ordered-array callback `data` is a
        * column), else the window along the cube's `dimension`
        */
      def cumulative(arrayForm: Column => Column,
          cubeForm: (DataCube, String) => DataCube): PValue = arg("data") match {
        case ColV(a) => ColV(arrayForm(a))
        case _ => CubeV(cubeForm(cube("data"), str("dimension")))
      }

      pid match {
        // ---- cube-level ----
        case "load_collection" =>
          // the canonical openEO load signature: every example graph
          // passes spatial_extent/temporal_extent/bands here, so the
          // node composes the corresponding filters over the resolved
          // cube (each optional; the filters are plan-time no-ops on
          // absent args, and Catalyst pushes the survivors into the scan)
          var c = collections(str("id"))
          opt("temporal_extent").foreach { _ =>
            val (s, e) = interval("temporal_extent")
            c = FilterOps.filterTemporal(c, s, e, None)
          }
          spatialExtent.foreach { case (w, so, ea, no) =>
            c = FilterOps.filterBbox(c, w, ea, so, no)
          }
          opt("bands").foreach(_ => c = FilterOps.filterBands(c, strs("bands")))
          CubeV(c)
        case "filter_temporal" =>
          val (s, e) = interval("extent")
          CubeV(FilterOps.filterTemporal(cube("data"), s, e,
            optStr("dimension")))
        case "filter_bands" =>
          // reference _filter.py:133-140: absent `bands` and a missing
          // band dimension each have their own named error
          if (opt("bands").isEmpty) throw new IllegalArgumentException(
            "BandFilterParameterMissing: the process `filter_bands` " +
              "requires the parameter `bands` to be set")
          CubeV(FilterOps.filterBands(cube("data"), strs("bands")))
        case "filter_bbox" =>
          // openEO's bounding-box object, or [west, east, south, north]
          val (w, s, e, n) = arg("extent") match {
            case ObjV(_) => bbox("extent")
            case _ => val a = nums("extent"); (a(0), a(2), a(1), a(3))
          }
          CubeV(FilterOps.filterBbox(cube("data"), w, e, s, n))
        case "filter_labels" =>
          CubeV(FilterOps.filterLabels(cube("data"), str("dimension"),
            l => scalarCallback("condition")(l).cast("boolean")))
        case "apply" =>
          CubeV(ApplyOps.apply(cube("data"), scalarCallback("process")))
        case "apply_dimension" =>
          // openEO contract: the callback receives the label-ordered value
          // ARRAY along the dimension (reference cubes/apply.py:42-128).
          // Three compiled shapes, cheapest first:
          //  - pure element-wise callback, dim labels unchanged: identical
          //    to `apply` — ZERO shuffle, no arrays ever built;
          //  - element-wise under a target rename: the scalar chain maps
          //    over the series array (`transform`);
          //  - anything composing array-aware processes: the callback runs
          //    with `_array` context — statistical reducers flip to array
          //    folds, cumulative/interpolate to their array forms, and
          //    label-based array_element reads each series' own labels
          //    (checked against `labelsOf`, only when the callback says
          //    "label").
          //    Length-preserving result nodes keep the dim's
          //    labels (the reference's runtime length check, decided
          //    statically here); everything else relabels 0..n-1.
          val dim = str("dimension")
          val cb = callback("process")
          val c = cube("data")
          val target = optStr("target_dimension")
          if (cb.elementwise && target.forall(_ == dim)) {
            c.requireDim(dim)
            CubeV(ApplyOps.apply(c, scalarCallback("process")))
          } else cb.chainPlan match {
            case Some(ChainPlan(segs, aggs, combos)) =>
              // linear chain of window-class processes, possibly with
              // interleaved element-wise scalar nodes: compile to O(n)
              // window operators sharing one series shuffle, with each
              // scalar run a zero-shuffle projection between them —
              // never materialise the series array (the scale path).
              // Head-anchored aggregate side branches (`mean(data)` …)
              // become window aggregates over the same series partition
              // attached BEFORE the chain transforms the value, then
              // per-series-constant columns the scalar runs reference.
              c.requireDim(dim)
              var cur = c
              val sbCols = scala.collection.mutable.LinkedHashMap
                .empty[String, Column]
              if (aggs.nonEmpty) {
                val others = c.dimColsExcept(dim)
                val w = org.apache.spark.sql.expressions.Window
                  .partitionBy(others: _*)
                aggs.foreach { case (id, aggPid) =>
                  cur = cur.withDf(_.withColumn(s"_sb_$id",
                    headAggCol(aggPid, cur.value, w)))
                  sbCols(id) = col(s"_sb_$id")
                }
              }
              def sbBinds: Map[String, PValue] =
                sbCols.map { case (id, sc) =>
                  s"_sb_$id" -> (ColV(sc): PValue) }.toMap
              combos.foreach { case (id, combo) =>
                sbCols(id) = asColumn(runCallback(combo,
                  sbBinds ++ callbackContext),
                  "apply_dimension side branch returned")
              }
              segs.foreach {
                case WinSeg(p, asc) =>
                  cur = p match {
                    case "cumsum" => WindowOps.cumsum(cur, dim)
                    case "cummax" => WindowOps.cummax(cur, dim)
                    case "cummin" => WindowOps.cummin(cur, dim)
                    case "cumproduct" => WindowOps.cumprodExact(cur, dim)
                    case "array_interpolate_linear" =>
                      WindowOps.interpolateLinearByPosition(cur, dim)
                    case _ => WindowOps.sortAlong(cur, dim, ascending = asc)
                  }
                case ScalSeg(seg) =>
                  cur = ApplyOps.apply(cur, v =>
                    asColumn(runCallback(seg, Map("x" -> ColV(v),
                      "data" -> ColV(v)) ++ sbBinds ++ callbackContext),
                      "apply_dimension callback returned"))
              }
              if (aggs.nonEmpty)
                cur = cur.withDf(
                  _.drop(aggs.map(a => s"_sb_${a._1}"): _*))
              CubeV(ApplyOps.retargetPreserved(cur, dim, target))
            case None =>
          {
            // the array-fold path is O(n²) per series (each aggregate
            // step copies the accumulator array): measured 88 s vs 0.6 s
            // on a 20k-label dimension at sf0.1. Guard the cliff: bail
            // loudly above a label-cardinality cap instead of silently
            // running a quadratic fold over a huge dimension. The
            // element-wise form compiles to a linear `transform`, so it
            // is exempt. The cap and the `_labels` context share one read.
            lazy val labels = c.labelsOf(dim)
            if (!cb.elementwise) {
              val nLabels = labels.size
              if (nLabels > FoldMaxLabels) throw new IllegalArgumentException(
                s"apply_dimension: callback is not window-compilable and " +
                  s"dimension '$dim' has $nLabels labels (> $FoldMaxLabels); " +
                  "the array-fold path is O(n²) per series. Rewrite the " +
                  "callback as a chain of element-wise and window-class " +
                  "processes")
            }
            val labelCtx = labelContext(cb, labels) // empty when elementwise
            def run(bind: Map[String, PValue]): Column =
              asColumn(runCallback(cb, bind ++ callbackContext),
                "apply_dimension callback returned")
            val process: Column => Column =
              if (cb.elementwise)
                arr => graft.functions.ArrayFns.arrayApply(arr,
                  x => run(Map("x" -> ColV(x), "data" -> ColV(x))))
              else
                arr => run(Map("x" -> ColV(arr), "data" -> ColV(arr),
                  "_array" -> BoolV(true)) ++ labelCtx)
            CubeV(ApplyOps.applyDimensionTarget(c, dim, process, target,
              lengthPreserving = cb.elementwise || cb.lengthPreserving))
          }
          }
        case "apply_kernel" =>
          val kern = arr("kernel").map(arrOf("kernel", _).map(numOf("kernel", _)))
          CubeV(KernelOps.applyKernel(cube("data"), kern,
            optNum("factor").getOrElse(1.0)))
        case "reduce_dimension" =>
          val dim = str("dimension")
          val cb = callback("reducer")
          if (cb.plainAggregate)
            CubeV(ReduceOps.reduceDimension(cube("data"), dim,
              reducerCallback("reducer", order = Some(col(dim)))))
          else {
            // general openEO reducer semantics: the callback receives the
            // label-ordered value ARRAY along the reduced dimension (the
            // published EVI example indexes it with array_element); the
            // `_array` context flips the statistical reducer arms to
            // their array folds; label-based element access reads the
            // dimension's label list (`labelContext`)
            val c = cube("data")
            val labelCtx = labelContext(cb, c.labelsOf(dim))
            CubeV(ReduceOps.reduceDimensionArray(c, dim, a =>
              asColumn(runCallback(cb, Map("data" -> ColV(a),
                "_array" -> BoolV(true)) ++ labelCtx ++ callbackContext),
                "reducer returned", labeled = true)))
          }
        case "reduce_spatial" =>
          CubeV(ReduceOps.reduceSpatial(cube("data"), reducerCallback("reducer")))
        case "aggregate_temporal" =>
          val iv = arr("intervals").map(arrOf("intervals", _).map(strOf("intervals", _)))
          val labels = strs("labels")
          require(iv.size == labels.size, "intervals/labels length mismatch")
          val intervals = iv.zip(labels).map { case (se, lab) =>
            AggregateOps.Interval(se(0), se(1), lab)
          }
          CubeV(AggregateOps.aggregateTemporal(cube("data"), intervals,
            reducerCallback("reducer"), optStr("dimension")))
        case "aggregate_temporal_period" =>
          CubeV(AggregateOps.aggregateTemporalPeriod(cube("data"),
            str("period"), reducerCallback("reducer")))
        case "climatological_normal" =>
          // openEO proposal (beyond the reference): year-collapsing mean
          // per climatology key; optional climatology_period = [from, to)
          val cp = opt("climatology_period").map {
            case ArrV(Seq(StrV(from), StrV(to))) => (from, to)
            case v => throw new IllegalArgumentException(
              s"climatological_normal.climatology_period: " +
                s"need [from, to] strings (got $v)")
          }
          CubeV(AggregateOps.climatologicalNormal(cube("data"),
            str("frequency"), optStr("dimension"), cp))
        case "anomaly" =>
          // openEO proposal: data minus its climatological normal; the
          // normals cube broadcasts onto the fact scan
          CubeV(AggregateOps.anomaly(cube("data"), cube("normals"),
            str("frequency"), optStr("dimension")))
        case "apply_neighborhood" =>
          // size/overlap: the openeo list-of-{dimension, value} form or a
          // plain {dim: value} object; a null value leaves its dimension out
          def dimMap(name: String): Map[String, Int] = {
            def entry(d: String, v: JValue) = literal(v) match {
              case NullV => None
              case v => Some(d -> numOf(name, v).toInt)
            }
            opt(name).fold(Map.empty[String, Int]) {
              case ArrV(xs) => xs.flatMap { x =>
                val e = objOf(name, x)
                entry(strOf(name, literal(e \ "dimension")), e \ "value")
              }.toMap
              case ObjV(o) => o.obj.flatMap { case (d, v) => entry(d, v) }.toMap
              case v => notA(name, "a list of {dimension, value} or an object", v)
            }
          }
          val size = dimMap("size")
          val overlap = dimMap("overlap")
          CubeV(WindowOps.applyNeighborhood2D(cube("data"),
            size.getOrElse("x", 1), size.getOrElse("y", 1),
            reducerCallback("process"),
            overlap.getOrElse("x", 0), overlap.getOrElse("y", 0)))
        case "resample_spatial" =>
          // `projection` warps first (cubes/resample.py:39-113); a zero or
          // absent resolution means warp-only, no regridding
          val warped = opt("projection")
            .fold(cube("data"))(_ => ResampleOps.warpCube(cube("data"), crs("projection")))
          val res = optNum("resolution").getOrElse(0.0)
          if (res == 0.0) CubeV(warped)
          else resampleByMethod(warped, res)
        case "run_udf" =>
          val runtime = optStr("runtime").getOrElse("python3")
          CubeV(if (optBool("chunked", false))
            UdfOps.runUdfChunked(cube("data"), str("udf"), runtime)
          else UdfOps.runUdf(cube("data"), str("udf"), runtime))
        case "mask_polygon" =>
          CubeV(SpatialOps.maskPolygon(cube("data"),
            rings("mask").head._2,
            if (opt("replacement").isDefined) column("replacement") else lit(null),
            inside = optBool("inside", true)))
        case "filter_spatial" =>
          CubeV(SpatialOps.filterSpatial(cube("data"),
            rings("geometries").head._2))
        case "filter_vector" =>
          // openEO proposal: keep vector-cube geometries intersecting the
          // filter polygon (three-case Column test, VectorOps.filterVector)
          TableV(VectorOps.filterVector(table("data"), "geometry",
            rings("geometries").head._2))
        case "apply_polygon" =>
          CubeV(SpatialOps.applyPolygon(cube("data"),
            rings("polygons").head._2, scalarCallback("process")))
        case "aggregate_spatial" =>
          val zones = rings("geometries")
          val c = cube("data")
          val out = SpatialOps.aggregateSpatial(c, zones, reducerCallback("reducer"))
          val spatial = c.meta.spatialDims.toSet
          CubeV(DataCube(out, CubeMetadata(
            CubeDim("zone", DimType.Other) +:
              c.meta.dims.filterNot(d => spatial(d.name)),
            c.meta.crs, c.meta.valueCol)))
        case "line_dedup" =>
          // corpus-level CCNet line dedup over a text-valued cube: value
          // becomes the doc's surviving lines (first corpus occurrence
          // wins), cube shape preserved. The id dimension defaults to the
          // cube's first dim.
          val c = cube("data")
          val idDim = idDimOf(c)
          val sep = optStr("separator").getOrElse("\\. ")
          val deduped = graft.pipeline.Dedup.lineDedup(
            c.df, idDim, col(c.meta.valueCol), sep)
            .select(col(idDim), col("kept_text").as(c.meta.valueCol))
          val others = c.meta.dimNames.filterNot(_ == idDim)
          val joined =
            if (others.isEmpty) deduped
            else c.df.drop(c.meta.valueCol).join(deduped, Seq(idDim))
          CubeV(c.withDf(_ => joined
            .select((c.meta.dimNames.map(col) :+ col(c.meta.valueCol)): _*)))
        // ---- LLM-pipeline family as cube/table-level graph nodes ----
        // (beyond the reference, like the scalar crawl ops above: the
        // repo's flagship dedup/quality/sampling operators become
        // declaratively composable — a graph can express the full
        // load → quality → redact → dedup → pack training-data pipeline,
        // ProcessGraphSpec pins graph ≡ DataFrame-chain equivalence.)
        // All operate on a text-valued cube whose id dimension defaults to
        // the first dim (the line_dedup convention).
        case "quality_filter" =>
          // Gopher-style gate: keep docs with ≥ min_tokens whitespace
          // tokens and type-token ratio ≥ min_ttr (round-6 like the
          // pipeline_e2e chain, so graph and DataFrame gates agree on
          // boundary docs)
          val c = cube("data")
          val v = col(c.meta.valueCol)
          val minTok = optNum("min_tokens").getOrElse(1.0)
          val minTtr = optNum("min_ttr").getOrElse(0.0)
          CubeV(c.withDf(_.filter(
            graft.pipeline.TextAnalysis.tokenCount(v) >= minTok &&
              round(graft.pipeline.Repetition.typeTokenRatio(v), 6) >= minTtr)))
        case "pii_redact" =>
          val c = cube("data")
          CubeV(c.withDf(_.withColumn(c.meta.valueCol,
            graft.pipeline.TextAnalysis.redactPii(col(c.meta.valueCol)))))
        case "normalize_text" =>
          // model-ready canonicalization (NFC + Cc/Cf strip + whitespace
          // collapse + trim; TextAnalysis.normalizeText) — one codegen'd
          // scan-stage pass, cube shape preserved
          val c = cube("data")
          CubeV(c.withDf(_.withColumn(c.meta.valueCol,
            graft.pipeline.TextAnalysis.normalizeText(col(c.meta.valueCol)))))
        case "exact_dedup" =>
          // first doc per identical text survives: one md5 groupBy for the
          // survivor id set, then a semi join (AQE broadcasts it when small)
          val c = cube("data")
          val idDim = idDimOf(c)
          val surv = c.df
            .groupBy(md5(col(c.meta.valueCol).cast("binary")).as("_k"))
            .agg(min(col(idDim)).as(idDim)).select(col(idDim))
          CubeV(c.withDf(_.join(surv, Seq(idDim), "left_semi")))
        case "minhash_dedup_survivors" =>
          // MinHash-LSH near-dup survivor selection through the
          // exact-dup pre-collapse path (Dedup.survivorsCollapsed)
          val c = cube("data")
          val idDim = idDimOf(c)
          val th = optNum("threshold").getOrElse(0.5)
          CubeV(c.withDf(df => graft.pipeline.Dedup.survivorsCollapsed(
            df, idDim, col(c.meta.valueCol), threshold = th)))
        case "lm_score" =>
          // char-trigram LM quality scoring; `target` is an optional scalar
          // callback over the text marking the model's target distribution
          // (defaults to the whole corpus). With `max_xent` the node
          // FILTERS (text cube in, text cube out); without it the value
          // becomes the xent score.
          val c = cube("data")
          val idDim = idDimOf(c)
          val v = c.meta.valueCol
          val isTarget = opt("target")
            .map(_ => scalarCallback("target")(col(v)).cast("boolean"))
            .getOrElse(lit(true))
          val scored = graft.pipeline.LanguageModel
            .charTrigramScore(c.df, idDim, col(v), isTarget)
          optNum("max_xent") match {
            case Some(mx) =>
              val keep = scored.filter(col("xent") <= mx).select(col(idDim))
              CubeV(c.withDf(_.join(keep, Seq(idDim), "left_semi")))
            case _ =>
              val x = scored.select(col(idDim), col("xent").as("_xent"))
              CubeV(c.withDf(df => df.drop(v).join(x, Seq(idDim))
                .withColumn(v, col("_xent"))
                .select((c.meta.dimNames.map(col) :+ col(v)): _*)))
          }
        case "dsir_weights" =>
          // DSIR importance weight per doc becomes the cube value; `target`
          // callback as in lm_score
          val c = cube("data")
          val idDim = idDimOf(c)
          val v = c.meta.valueCol
          val isTarget = opt("target")
            .map(_ => scalarCallback("target")(col(v)).cast("boolean"))
            .getOrElse(lit(true))
          val weighted = graft.pipeline.Importance
            .dsirWeights(c.df, idDim, col(v), isTarget)
            .select(col(idDim), col("score").as("_w"))
          CubeV(c.withDf(df => df.drop(v).join(weighted, Seq(idDim))
            .withColumn(v, col("_w"))
            .select((c.meta.dimNames.map(col) :+ col(v)): _*)))
        case "split" =>
          // deterministic hash split: `fractions` = {"train":0.8,...}, keep
          // the named slice — shuffle-free, the 100-TB path
          val c = cube("data")
          val idDim = idDimOf(c)
          val fracs = obj("fractions").obj.map { case (k, v) =>
            k -> numOf(s"fractions.$k", literal(v))
          }
          val salt = optStr("salt").getOrElse("graft-split")
          CubeV(c.withDf(_.filter(graft.pipeline.Sampling
            .splitColumn(col(idDim), salt, fracs) === str("keep"))))
        case "sample" =>
          // proportional-in-expectation hash sample, shuffle-free
          val c = cube("data")
          val idDim = idDimOf(c)
          val salt = optStr("salt").getOrElse("graft-sample")
          CubeV(c.withDf(df => graft.pipeline.Sampling.sampleByHash(
            df, idDim, num("fraction"), salt)))
        case "pack_sequences" =>
          // terminal packing node: the cube becomes the packing table
          // (id, n_tok, bin, offset_in_bin) with offset_in_bin as value —
          // the exact shape the pack_sequences driver query emits
          val c = cube("data")
          val idDim = idDimOf(c)
          val budget = num("budget").toInt
          val nBuckets = optNum("buckets").map(_.toInt).getOrElse(256)
          val packed = graft.pipeline.Sampling.packSequences(c.df, idDim,
            graft.pipeline.TextAnalysis.tokenCount(col(c.meta.valueCol)),
            budget, nBuckets)
          CubeV(DataCube(packed, CubeMetadata(Seq(
            CubeDim(idDim, DimType.Other),
            CubeDim("n_tok", DimType.Other),
            CubeDim("bin", DimType.Other)), None, "offset_in_bin")))
        case "simhash_dedup_survivors" =>
          // SimHash near-dup survivor selection: pigeonhole-chunk candidate
          // pairs within `max_hamming` (Dedup.simhashNearDups — lossless
          // equi-join banding, no all-pairs), then the standard
          // component-minimum survivor anti-join
          val c = cube("data")
          val idDim = idDimOf(c)
          val maxHam = optNum("max_hamming").map(_.toInt).getOrElse(3)
          CubeV(c.withDf { df =>
            val pairs = graft.pipeline.Dedup.simhashNearDups(
              df, idDim, col(c.meta.valueCol), Seq.empty, maxHam)
            graft.pipeline.Dedup.survivors(df, idDim, pairs)
          })
        case "ngram_jaccard_dedup" =>
          // exact n-gram-Jaccard near-dup survivors: PPJoin prefix-filtered
          // candidate pairs above `threshold` (Dedup.ngramJaccardNearDups),
          // then the component-minimum survivor anti-join
          val c = cube("data")
          val idDim = idDimOf(c)
          val n = optNum("n").map(_.toInt).getOrElse(3)
          val th = optNum("threshold").getOrElse(0.5)
          CubeV(c.withDf { df =>
            val pairs = graft.pipeline.Dedup.ngramJaccardNearDups(
              df, idDim, col(c.meta.valueCol), Seq.empty, n, th)
            graft.pipeline.Dedup.survivors(df, idDim, pairs)
          })
        case "decontaminate" =>
          // benchmark decontamination against a second cube input: per-doc
          // n-gram containment of `data`'s text in `train`'s distinct
          // shingle set (Dedup.ngramContainment). With `max_containment`
          // the node FILTERS data (text cube in, text cube out); without it
          // the value becomes the containment score — the lm_score
          // two-mode convention.
          val c = cube("data")
          val tr = cube("train")
          val idDim = idDimOf(c)
          val n = optNum("n").map(_.toInt).getOrElse(3)
          val v = c.meta.valueCol
          val scored = graft.pipeline.Dedup.ngramContainment(
            tr.df.select(col(tr.meta.dimNames.head).as(idDim),
              col(tr.meta.valueCol).as(v)),
            c.df.select(col(idDim), col(v)), idDim, col(v), n)
          optNum("max_containment") match {
            case Some(mc) =>
              // anti-join on the over-limit set (not semi on the keep set):
              // docs too short to yield a shingle have no containment row
              // and must be KEPT, not silently dropped
              val drop = scored.filter(col("containment") > mc)
                .select(col(idDim))
              CubeV(c.withDf(_.join(drop, Seq(idDim), "left_anti")))
            case _ =>
              val x = scored.select(col(idDim), col("containment").as("_ct"))
              CubeV(c.withDf(df => df.drop(v).join(x, Seq(idDim), "left")
                .withColumn(v, coalesce(col("_ct"), lit(0.0)))
                .select((c.meta.dimNames.map(col) :+ col(v)): _*)))
          }
        case "incremental_dedup" =>
          // keep only `data` docs whose content key is absent from the
          // `corpus` cube — bloom-prefiltered exact anti-join
          // (Dedup.incrementalNew: the corpus never shuffles)
          val c = cube("data")
          val corp = cube("corpus")
          val idDim = idDimOf(c)
          val keyOf: Column => Column = opt("key")
            .map(_ => scalarCallback("key"))
            .getOrElse(graft.pipeline.TextAnalysis.contentHash(_))
          val expected = optNum("expected_keys").map(_.toLong).getOrElse(1L << 20)
          CubeV(c.withDf(df => graft.pipeline.Dedup.incrementalNew(
            df, corp.df.select(col(corp.meta.valueCol).as(c.meta.valueCol)),
            idDim, keyOf(col(c.meta.valueCol)), expected)))
        case "semdedup" =>
          // SemDeDup over an embedding-valued cube (value = Array[Float]):
          // IVF-bucketed cosine near-dup pairs above `threshold`, then the
          // component-minimum survivor anti-join — the embedding twin of
          // minhash_dedup_survivors
          val c = cube("data")
          val idDim = idDimOf(c)
          val th = optNum("threshold").getOrElse(0.95)
          val cents = optNum("centroids").map(_.toInt).getOrElse(16)
          CubeV(c.withDf(df => graft.pipeline.Similarity.semDedupSurvivors(
            df, idDim, c.meta.valueCol, th, cents)))
        case "bm25" =>
          // BM25 lexical retrieval over a text-valued cube
          // (pipeline.Retrieval.bm25TopK): terminal node — the cube
          // becomes the (id) → score_units top-k table, exact integer
          // micro-unit scores, TakeOrdered top-k
          val c = cube("data")
          val idDim = idDimOf(c)
          val terms = arr("query").map(strOf("query", _))
          val k = optNum("k").map(_.toInt).getOrElse(10)
          val top = graft.pipeline.Retrieval.bm25TopK(
            c.df.select(col(idDim), col(c.meta.valueCol).as("_text")),
            terms, k, idCol = idDim, textCol = "_text")
          CubeV(DataCube(top, CubeMetadata(
            Seq(CubeDim(idDim, DimType.Other)), None, "score_units")))
        case "page_rank" =>
          // PageRank over an edge-list cube (first dim = src node, value =
          // dst node; pipeline.LinkGraph.pageRank): terminal node — the
          // cube becomes the node → rank_units table, exact integer-unit
          // mass, damping 0.85
          val c = cube("data")
          val iters = optNum("iterations").map(_.toInt).getOrElse(3)
          val edges = c.df.select(
            col(c.meta.dimNames.head).cast("string").as("src"),
            col(c.meta.valueCol).cast("string").as("dst"))
          val ranks = graft.pipeline.LinkGraph.pageRank(edges, iters)
          CubeV(DataCube(ranks, CubeMetadata(
            Seq(CubeDim("node", DimType.Other)), None, "rank_units")))
        case "ann_topk" =>
          // approximate top-k neighbors of a `queries` cube against a
          // `corpus` cube (both embedding-valued): terminal node — the
          // cube becomes the (query_id, rank) -> neighbor table with
          // cosine as the value
          val qc = cube("queries")
          val cc = cube("corpus")
          val idDim = idDimOf(qc)
          val k = optNum("k").map(_.toInt).getOrElse(10)
          val cents = optNum("centroids").map(_.toInt).getOrElse(16)
          val corpusDf = cc.df.select(
            col(cc.meta.dimNames.head).as(idDim),
            col(cc.meta.valueCol).as(qc.meta.valueCol))
          val centroids = graft.pipeline.Similarity.strideCentroids(
            corpusDf, idDim, qc.meta.valueCol, cents)
          val top = graft.pipeline.Similarity.ivfTopK(
            qc.df.select(col(idDim), col(qc.meta.valueCol)), corpusDf,
            idDim, qc.meta.valueCol, centroids, k)
            .select(col("query_id"), col("neighbor_id"), col("rk"), col("cos"))
          CubeV(DataCube(top, CubeMetadata(Seq(
            CubeDim("query_id", DimType.Other),
            CubeDim("neighbor_id", DimType.Other),
            CubeDim("rk", DimType.Other)), None, "cos")))
        case "pq_topk" =>
          // product-quantized top-k in its production refine shape
          // (codebook trained on the corpus, ADC shortlist from the
          // compressed codes, exact-cosine re-rank): same terminal
          // (query_id, neighbor_id, rk) -> cosine table as ann_topk
          val qc = cube("queries")
          val cc = cube("corpus")
          val idDim = idDimOf(qc)
          val k = optNum("k").map(_.toInt).getOrElse(10)
          val dims = num("dims").toInt
          val m = optNum("m").map(_.toInt).getOrElse(16)
          val cents = optNum("centroids").map(_.toInt).getOrElse(32)
          val shortlist = optNum("shortlist").map(_.toInt).getOrElse(math.max(25, 5 * k))
          val corpusDf = cc.df.select(
            col(cc.meta.dimNames.head).as(idDim),
            col(cc.meta.valueCol).as(qc.meta.valueCol))
          val book = graft.pipeline.Similarity.pqCodebook(
            corpusDf, idDim, qc.meta.valueCol, dims, m, cents)
          val qDf = qc.df.select(col(idDim), col(qc.meta.valueCol))
          // with `probes` set, the IVFADC composition bounds the ADC scan
          // to the probed coarse cells (`coarse_centroids`, default 16)
          val top = (optNum("probes").map(_.toInt) match {
            case Some(pr) =>
              val coarse = optNum("coarse_centroids").map(_.toInt).getOrElse(16)
              val ivf = graft.pipeline.Similarity.strideCentroids(
                corpusDf, idDim, qc.meta.valueCol, coarse)
              graft.pipeline.Similarity.ivfPqTopK(qDf, corpusDf,
                idDim, qc.meta.valueCol, ivf, book, k, shortlist, pr)
            case None =>
              graft.pipeline.Similarity.pqTopKRefined(qDf, corpusDf,
                idDim, qc.meta.valueCol, book, k, shortlist)
          }).select(col("query_id"), col("neighbor_id"), col("rk"), col("cos"))
          CubeV(DataCube(top, CubeMetadata(Seq(
            CubeDim("query_id", DimType.Other),
            CubeDim("neighbor_id", DimType.Other),
            CubeDim("rk", DimType.Other)), None, "cos")))
        case "fuzzy_join" =>
          // R-S similarity join between two text cubes: terminal node —
          // the cube becomes the (id_l, id_r) → jaccard pair table
          val lc = cube("data")
          val rc = cube("right")
          val idDim = idDimOf(lc)
          val th = optNum("threshold").getOrElse(0.5)
          val n = optNum("n").map(_.toInt).getOrElse(3)
          val joined = graft.pipeline.Dedup.jaccardJoin(
            lc.df.select(col(idDim), col(lc.meta.valueCol)),
            rc.df.select(col(rc.meta.dimNames.head).as(idDim),
              col(rc.meta.valueCol).as(lc.meta.valueCol)),
            idDim, col(lc.meta.valueCol), n, th)
          CubeV(DataCube(joined, CubeMetadata(Seq(
            CubeDim("id_l", DimType.Other),
            CubeDim("id_r", DimType.Other)), None, "jaccard")))
        case "chunk_docs" =>
          // overlapping token-window chunking: the id dimension gains a
          // chunk_id companion and the value becomes the chunk text —
          // the context-window prep step of the training pipeline
          val c = cube("data")
          val idDim = idDimOf(c)
          val window = num("window").toInt
          val stride = optNum("stride").map(_.toInt).getOrElse(window)
          val chunked = graft.pipeline.Chunking.chunkDocs(
            c.df, idDim, col(c.meta.valueCol), window, stride)
            .withColumnRenamed("chunk", c.meta.valueCol)
          CubeV(DataCube(chunked, CubeMetadata(Seq(
            CubeDim(idDim, DimType.Other),
            CubeDim("chunk_id", DimType.Other)), None, c.meta.valueCol)))
        case "heavy_hitters" =>
          // SpaceSaving top-k frequency sketch over the cube's values:
          // terminal node — (rank, key) → count table, O(capacity) state,
          // no key-space shuffle (functions.SpaceSavingAgg)
          val c = cube("data")
          val capacity = optNum("capacity").map(_.toInt).getOrElse(8192)
          val k = optNum("k").map(_.toInt).getOrElse(20)
          val hh = c.df.filter(col(c.meta.valueCol).isNotNull)
            .agg(graft.functions.SpaceSavingAgg.column(
              col(c.meta.valueCol).cast("string"), capacity, k).as("hh"))
            .select(posexplode(col("hh")).as(Seq("rank", "e")))
            .select(col("rank"), col("e.key").as("key"),
              col("e.count").as("count"))
          CubeV(DataCube(hh, CubeMetadata(Seq(
            CubeDim("rank", DimType.Other),
            CubeDim("key", DimType.Other)), None, "count")))
        case "top_k" =>
          // bounded-heap top-k rows by VALUE (functions.TopKAgg): the
          // ranking sibling of heavy_hitters (which ranks by FREQUENCY).
          // Terminal node — per `group` label (or globally), the k
          // highest-valued cells identified by `id_dimension`'s numeric
          // labels; one map-side-combinable pass, O(k) per (group,
          // partition), vs a full-table shuffle + per-group sort for a
          // row_number() window
          val c = cube("data")
          val k = optNum("k").map(_.toInt).getOrElse(3)
          val idDim = str("id_dimension")
          val groupDim = optStr("group")
          val dimNames = c.meta.dims.map(_.name).toSet
          (groupDim.toSeq :+ idDim).foreach { d =>
            require(dimNames.contains(d),
              s"DimensionNotAvailable: top_k dimension '$d' not in cube " +
                s"(${dimNames.mkString(", ")})")
          }
          val idL = col(idDim).cast("long")
          val grouped = c.df
            .filter(col(c.meta.valueCol).isNotNull && idL.isNotNull)
            .groupBy(groupDim.map(col).toSeq: _*)
            .agg(graft.functions.TopKAgg.column(
              col(c.meta.valueCol).cast("double"), idL, k).as("top"))
          val outCols = groupDim.map(col).toSeq ++ Seq(
            (col("pos") + 1).cast("long").as("rank"),
            col("e.id").as(idDim), col("e.v").as(c.meta.valueCol))
          val tk = grouped
            .select(groupDim.map(col).toSeq :+
              posexplode(col("top")).as(Seq("pos", "e")): _*)
            .select(outCols: _*)
          CubeV(DataCube(tk, CubeMetadata(
            groupDim.map(g => CubeDim(g, DimType.Other)).toSeq ++ Seq(
              CubeDim("rank", DimType.Other),
              CubeDim(idDim, DimType.Other)), None, c.meta.valueCol)))
        case "quantiles_sketch" =>
          // GK weighted-quantile sketch over the cube's numeric values,
          // quantized by `scale` (distribution without the data-sized
          // sort; functions.QuantileSketchAgg): terminal node — the
          // per-mille probe table (pm) → quantized value
          val c = cube("data")
          val capacity = optNum("capacity").map(_.toInt).getOrElse(16384)
          val scale = optNum("scale").getOrElse(10.0)
          val probes = opt("permille").map(_ => nums("permille").map(_.toInt))
            .getOrElse(graft.functions.QuantileSketchAgg.DefaultPms)
          val qp = c.df.filter(col(c.meta.valueCol).isNotNull)
            .agg(graft.functions.QuantileSketchAgg.column(
              round(col(c.meta.valueCol) * scale).cast("long"), lit(1L),
              capacity, probes).as("qp"))
            .select(explode(col("qp")).as("e"))
            .select(col("e.pm").as("pm"), col("e.v").as("v"))
          CubeV(DataCube(qp, CubeMetadata(Seq(
            CubeDim("pm", DimType.Other)), None, "v")))
        case "distinct_count" =>
          // KMV/theta cardinality sketch over the cube's values
          // (functions.ThetaSketchAgg): terminal node — a one-row
          // (metric) → estimate table; exact while distinct ≤ k
          val c = cube("data")
          val k = optNum("k").map(_.toInt).getOrElse(16384)
          val dc = c.df.filter(col(c.meta.valueCol).isNotNull)
            .agg(graft.functions.ThetaSketchAgg.column(
              xxhash64(col(c.meta.valueCol).cast("string")), k).as("sk"))
            .select(lit("distinct").as("metric"),
              graft.functions.ThetaSketchAgg.estimateUdf(k)(col("sk")).as("n"))
          CubeV(DataCube(dc, CubeMetadata(Seq(
            CubeDim("metric", DimType.Other)), None, "n")))
        case "set_overlap" =>
          // cross-set overlap of two cubes' value sets from KMV/theta
          // sketches: terminal node — long-form (metric) → value table
          // (n_a, n_b, n_common, jaccard_ppm); the sketches meet on a
          // one-row frame, never the data
          val a = cube("data")
          val b = cube("right")
          val k = optNum("k").map(_.toInt).getOrElse(16384)
          val skA = a.df.filter(col(a.meta.valueCol).isNotNull)
            .agg(graft.functions.ThetaSketchAgg.column(
              xxhash64(col(a.meta.valueCol).cast("string")), k).as("a_sk"))
          val skB = b.df.filter(col(b.meta.valueCol).isNotNull)
            .agg(graft.functions.ThetaSketchAgg.column(
              xxhash64(col(b.meta.valueCol).cast("string")), k).as("b_sk"))
          val st = skA.crossJoin(skB) // two one-row frames by construction
            .withColumn("st", graft.functions.ThetaSketchAgg.pairStatsUdf(k)(
              col("a_sk"), col("b_sk")))
          val longForm = st.select(explode(map(
            lit("n_a"), col("st._1"), lit("n_b"), col("st._2"),
            lit("n_common"), col("st._3"), lit("jaccard_ppm"), col("st._4")))
            .as(Seq("metric", "v")))
          CubeV(DataCube(longForm, CubeMetadata(Seq(
            CubeDim("metric", DimType.Other)), None, "v")))

        case "drop_dimension" =>
          CubeV(CubeDimOps.dropDimension(cube("data"), str("name")))
        case "rename_dimension" =>
          CubeV(CubeDimOps.renameDimension(cube("data"), str("source"), str("target")))
        case "flatten_dimensions" =>
          // openEO spec proposal (beyond the reference's exports): combine
          // dimensions into one, labels joined by label_separator
          CubeV(CubeDimOps.flattenDimensions(cube("data"), strs("dimensions"),
            str("target_dimension"),
            optStr("label_separator").getOrElse("~")))
        case "unflatten_dimension" =>
          // openEO spec proposal: split a dimension's labels back out
          CubeV(CubeDimOps.unflattenDimension(cube("data"), str("dimension"),
            strs("target_dimensions"),
            optStr("label_separator").getOrElse("~")))
        case "aggregate_spatial_window" =>
          // openEO spec proposal: reduce over non-overlapping pixel
          // windows; size = [x, y], boundary pad|trim
          val size = args.get("size") match {
            case Some(ArrV(Seq(NumV(sx), NumV(sy)))) => (sx.toInt, sy.toInt)
            case v => throw new IllegalArgumentException(
              s"aggregate_spatial_window.size: need [x, y] numbers ($v)")
          }
          CubeV(SpatialOps.aggregateSpatialWindow(cube("data"),
            reducerCallback("reducer"), size._1, size._2,
            optStr("boundary").getOrElse("pad")))
        case "save_result" =>
          // The terminal node every canonical openeo graph ends with.
          // Backend-defined in the reference (absent from its process
          // library); here the native sink is partitioned parquet: with an
          // options.path the result is written eagerly (save_result IS the
          // action), without one it is a pass-through so callers can sink
          // the returned cube themselves.
          val c = cube("data")
          val fmt = optStr("format").getOrElse("Parquet")
          require(Set("parquet", "csv", "json", "gtiff", "geotiff", "zarr",
            "zarr3")(fmt.toLowerCase),
            s"FormatUnsuitable: $fmt (parquet, csv, json, gtiff, zarr, zarr3)")
          val pathOpt = opt("options").flatMap(_ =>
            literal(obj("options") \ "path") match {
              case NullV => None
              case v => Some(strOf("options.path", v))
            })
          pathOpt.foreach(p =>
            graft.sources.CubeIO.saveResult(c, p, format = fmt))
          CubeV(c)
        case "inspect" =>
          CubeV(graft.sources.CubeIO.inspect(cube("data"),
            optStr("message").getOrElse(""), optStr("code").getOrElse("User"),
            optStr("level").getOrElse("info")))
        case "trim_cube" =>
          CubeV(CubeDimOps.trimCube(cube("data"), strs("dimensions")))
        case "merge_cubes" =>
          // The overlap_resolver is itself a process graph over (x, y); compile
          // it into a binary Column builder. When absent, pass None so MergeOps
          // raises OverlapResolverMissing on overlap (reference: merge.py:165-168).
          val resolver: Option[(Column, Column) => Column] =
            opt("overlap_resolver").map { _ =>
              val cb = callback("overlap_resolver")
              (a: Column, b: Column) =>
                asColumn(runCallback(cb, Map("x" -> ColV(a), "y" -> ColV(b),
                  "cube1" -> ColV(a), "cube2" -> ColV(b)) ++ callbackContext),
                  "resolver returned")
            }
          CubeV(MergeOps.mergeCubes(cube("cube1"), cube("cube2"), resolver))
        case "mask" =>
          CubeV(MergeOps.mask(cube("data"), cube("mask"),
            if (opt("replacement").isDefined) column("replacement") else lit(null)))
        case "add_dimension" =>
          CubeV(CubeDimOps.addDimension(cube("data"), str("name"), str("label")))
        case "rename_labels" =>
          // CHECKED form: the reference's full typed-error contract
          // (LabelMismatch / LabelExists / LabelNotAvailable /
          // LabelsNotEnumerated) validated against the dimension's labels
          // (`labelsOf`), like the reference's coords lookup
          // (cubes/general.py:150-222)
          CubeV(CubeDimOps.renameLabelsChecked(cube("data"), str("dimension"),
            strs("target"),
            opt("source").map(_ => strs("source")).getOrElse(Nil)))
        case "ndvi" =>
          CubeV(IndicesOps.ndvi(cube("data"),
            optStr("nir").getOrElse("nir"), optStr("red").getOrElse("red"),
            optStr("target_band")))

        // ---- curve fitting / ML (reference: ml/curve_fitting.py:15-162,
        // ml/random_forest.py:22-161) ----
        case "fit_curve" =>
          // The reference's `function` argument is an arbitrary scipy
          // callback; the engine's closed-form fitter covers the models
          // that are linear in their parameters — `linear` (a + b·x) and
          // the reference's CANONICAL seasonal `harmonic`
          // (a + b·sin(ωx) + c·cos(ωx)) — selected by `model`. The result
          // is the openEO shape: the fitted dimension is replaced by a
          // `param` dimension with labels a/b(/c).
          val c = cube("data"); val dim = str("dimension")
          val model = optStr("model").getOrElse("linear")
          val others = c.meta.dimNames.filterNot(_ == dim)
          val params = model match {
            case "linear" => (CurveOps.fitLinear(c, dim), Seq("a", "b"))
            case "harmonic" =>
              (CurveOps.fitHarmonic(c, dim, num("omega")), Seq("a", "b", "c"))
            case m => throw new IllegalArgumentException(
              s"ProcessUnsupported: fit_curve model $m (linear, harmonic)")
          }
          val (pdf, names) = params
          val kv = names.flatMap(n => Seq(lit(n), col(n)))
          val melted = pdf
            .select((others.map(col) :+ explode(map(kv: _*))): _*)
            .withColumnRenamed("key", "param")
          CubeV(DataCube.fromTable(melted, others :+ "param", "value"))
        case "predict_curve" =>
          val pc = cube("parameters"); val dimName = str("dimension")
          val labels = nums("labels")
          val model = optStr("model").getOrElse("linear")
          val series = pc.meta.dimNames.filterNot(_ == "param")
          val v = pc.meta.valueCol
          def wide(names: Seq[String]) =
            pc.df.groupBy(series.map(col): _*).agg(
              max(when(col("param") === names.head, col(v))).as(names.head),
              names.tail.map(n =>
                max(when(col("param") === n, col(v))).as(n)): _*)
          val out = model match {
            case "linear" =>
              CurveOps.predictLinear(wide(Seq("a", "b")), series, labels, dimName)
            case "harmonic" =>
              val w = num("omega")
              CurveOps.predictBasis2(wide(Seq("a", "b", "c")), series, labels,
                x => sin(x * w), x => cos(x * w), dimName)
            case m => throw new IllegalArgumentException(
              s"ProcessUnsupported: predict_curve model $m (linear, harmonic)")
          }
          CubeV(DataCube.fromTable(out, series :+ dimName, "value"))
        case "fit_regr_random_forest" | "fit_class_random_forest" =>
          // `predictors`: cube whose `dimension` (default bands) labels
          // are the feature names; `target`: cube over the same series
          // dims. The band pivot is a #features-wide reshape; the label
          // collect is metadata-scale (feature count), same class as dim
          // labels. Training itself is MLlib's distributed forest. The
          // classifier (openEO ML proposal, beyond the reference's
          // exports — the reference ships only the regressor) reads target
          // labels as class indices 0..k−1; the two differ only in the fit.
          val pred = cube("predictors"); val tgt = cube("target")
          val bandDim = idDimOf(pred, Some("bands"))
          val numTrees = optNum("num_trees").map(_.toInt).getOrElse(100)
          val maxDepth = optNum("max_depth").map(_.toInt).getOrElse(8)
          val seed = optNum("seed").map(_.toLong).getOrElse(42L)
          val series = pred.meta.dimNames.filterNot(_ == bandDim)
          val feats = pred.labelsOf(bandDim).sorted
          val wide = pred.df.groupBy(series.map(col): _*)
            .pivot(bandDim, feats).agg(first(col(pred.meta.valueCol)))
          val joined = wide.join(
            tgt.df.select((series.map(col) :+
              col(tgt.meta.valueCol).as("_target")): _*), series)
          ModelV(
            if (pid == "fit_regr_random_forest")
              MLOps.fitRandomForest(joined, feats, "_target", numTrees, maxDepth, seed)
            else
              MLOps.fitClassRandomForest(joined, feats, "_target", numTrees, maxDepth, seed),
            feats)
        case "save_ml_model" =>
          // openEO ML proposal (beyond the reference's exports): persist a
          // fitted model + feature-order sidecar; pass-through like
          // save_result so a graph can save AND keep predicting
          val mv = arg("model") match {
            case m: ModelV => m
            case v => throw new IllegalArgumentException(
              s"ModelNotFound: save_ml_model's `model` is not a model ($v)")
          }
          MLOps.saveModel(mv.model, mv.features, str("path"))
          mv
        case "load_ml_model" =>
          // openEO ML proposal: `id` is the backend-storage handle — here
          // the save_ml_model directory path
          val (m, f) = MLOps.loadModel(str("id"))
          ModelV(m, f)
        case "predict_random_forest" =>
          val (model, feats) = arg("model") match {
            case ModelV(m, f) => (m, f)
            case v => throw new IllegalArgumentException(
              "ModelNotFound: predict_random_forest's `model` does not " +
                s"resolve to a loaded ML model ($v)") // exceptions.py:45
          }
          val d = cube("data")
          val bandDim = idDimOf(d, Some("bands"))
          val series = d.meta.dimNames.filterNot(_ == bandDim)
          val wide = d.df.groupBy(series.map(col): _*)
            .pivot(bandDim, feats).agg(first(col(d.meta.valueCol)))
          val scored = MLOps.predictForest(model, wide, feats)
          CubeV(DataCube.fromTable(
            scored.withColumn("value", col("prediction")), series, "value"))

        // ---- cube-to-cube resample (reference: cubes/resample.py) ----
        case "resample_cube_spatial" =>
          val d = cube("data"); val t = cube("target")
          optStr("method").getOrElse("near") match {
            case "near" =>
              // target axis labels: known labels run no job, else one
              // metadata-scale collect per axis
              val sd = t.meta.spatialDims
              require(sd.size == 2,
                s"DimensionMissing: target has spatial dims $sd (need 2)")
              def labels(dim: String): Seq[Double] =
                t.labelsOf(dim).map(_.toDouble).sorted
              CubeV(SpatialOps.resampleCubeSpatialNear(d,
                labels(sd.head), labels(sd(1)), v => Reducers.meanR(v)))
            case "bilinear" =>
              CubeV(ResampleOps.resampleCubeSpatialBilinear(d, t))
            case m => throw new IllegalArgumentException(
              s"ProcessUnsupported: resample_cube_spatial method $m (near, bilinear)")
          }
        case "resample_cube_temporal" =>
          val d = cube("data"); val t = cube("target")
          val dim = optStr("dimension")
          val tdim = dim.getOrElse(t.temporalDim)
          // target time labels: metadata-scale collect (axis length)
          val targets = t.df.select(col(tdim).cast("timestamp")).distinct()
            .collect().map(_.getTimestamp(0)).sortBy(_.getTime).toSeq
          CubeV(ResampleOps.resampleCubeTemporal(d, targets, dim,
            optNum("valid_within")))

        // ---- cumulative processes (reference: cubes/cummax.py etc. —
        // cube-level along a dimension, like the reference's dim-aware
        // wrappers over the array forms) ----
        // Dual-form like the statistical reducers: over a cube they are
        // window functions along `dimension`; inside an ordered-array
        // callback (`data` arrives as a ColV series array) they are the
        // ArrayFns folds — dispatch on the argument, not the context, so
        // they work in every array-callback site.
        case "cumsum" => cumulative(ArrayFns.arrayCumsum, WindowOps.cumsum)
        case "cummin" => cumulative(ArrayFns.arrayCummin, WindowOps.cummin)
        case "cummax" => cumulative(ArrayFns.arrayCummax, WindowOps.cummax)
        case "cumproduct" => cumulative(ArrayFns.arrayCumproduct, WindowOps.cumprodExact)
        case "array_interpolate_linear" =>
          cumulative(ArrayFns.arrayInterpolateLinear, WindowOps.interpolateLinear(_, _))

        // ---- labeled-array scalar processes ----
        case "array_create_labeled" =>
          LabeledV(graft.functions.ArrayFns.arrayCreateLabeled(
            column("data"), column("labels")))
        case "array_find_label" =>
          ColV(graft.functions.ArrayFns.arrayFindLabel(
            column("data"), column("label")))

        // ---- dimension metadata / constructors ----
        case "dimension_labels" =>
          TableV(CubeDimOps.dimensionLabels(cube("data"), str("dimension")))
        case "create_data_cube" =>
          CubeV(graft.sources.CubeIO.createDataCube(
            org.apache.spark.sql.SparkSession.active))

        // ---- domain composites (reference: experimental/ddmc.py:8-84,
        // experimental/rqadeforestation.py) ----
        case "ddmc" =>
          // generalized band-difference composite: `pairs` maps each output
          // band to its [minuend, subtrahend] input bands (the reference
          // hard-codes the MNDWI/NDVI/... set; the math is identical)
          val c = cube("data")
          val bandDim = optStr("dimension").getOrElse("band")
          val pairs = obj("pairs").obj.map {
            case (name, JArray(Seq(JString(a), JString(b)))) => name -> (a, b)
            case (name, v) => throw new IllegalArgumentException(
              s"ddmc.pairs.$name: expected [bandA, bandB], got $v")
          }
          CubeV(CompositeOps.bandDifferenceComposite(c, bandDim, pairs))
        case "rqadeforestation" =>
          TableV(WindowOps.recurrenceRate(cube("data"), str("dimension"),
            num("eps"), num("max_lag").toInt))

        // ---- vector processes (reference: vector/buffer.py,
        // vector/reproject.py) ----
        case "vector_buffer" =>
          // buffer point geometries; polygon rows pass through unchanged
          // (the point-ring buffer is the op the engine implements).
          // UnitMismatch (reference geometries.py:127-135): when the
          // vector frame CARRIES a crs column and ANY row is geographic,
          // the meter distance has the wrong unit — probed as an
          // existence filter (deterministic on mixed-CRS tables, unlike
          // an arbitrary first-row sample) at metadata scale
          val df = table("geometries")
          val dist = num("distance")
          if (df.columns.contains("crs")) {
            val geographic = df
              .filter(col("crs").isin("EPSG:4326", "OGC:CRS84"))
              .limit(1).collect().nonEmpty
            if (geographic) throw new IllegalArgumentException(
              "UnitMismatch: the unit of the spatial reference system is " +
                "not meters, but the given distance is in meters")
          }
          val pts = VectorOps.bufferPoints(
            df.filter(col("geom_type") === "Point"), "geometry", dist)
          TableV(pts.unionByName(df.filter(col("geom_type") =!= "Point")))
        case "vector_to_regular_points" =>
          // openEO spec proposal (beyond the reference's exports): regular
          // distance-spaced sample points inside each polygon; points
          // pass through
          TableV(VectorOps.vectorToRegularPoints(table("data"), "geometry",
            num("distance")))
        case "vector_to_random_points" =>
          // openEO spec proposal (beyond the reference's exports): up to
          // `geometry_count` seeded pseudo-random points per polygon
          // (md5-derived, deterministic); points pass through
          TableV(VectorOps.vectorToRandomPoints(table("data"), "geometry",
            num("geometry_count").toInt,
            seed = optStr("seed").getOrElse("rp")))
        case "vector_reproject" =>
          TableV(VectorOps.reprojectVector(table("data"), "geometry",
            crs("source"), crs("projection")))
        case "load_geojson" =>
          TableV(VectorOps.loadGeoJson(
            org.apache.spark.sql.SparkSession.active, obj("data"),
            opt("properties").map(_ => strs("properties")).getOrElse(Nil)))
        case "load_result" =>
          // openEO core process: reload a previous save_result parquet
          // sink as a cube, metadata from the _graft_cube.json sidecar
          // (CubeIO.loadResult; ResultNotFound on a missing store/sidecar)
          CubeV(graft.sources.CubeIO.loadResult(
            org.apache.spark.sql.SparkSession.active, str("id")))
        case "load_uploaded_files" =>
          // openEO core process (beyond the reference's exports): read a
          // user's uploaded file LIST in one format and union them — each
          // path goes through the same per-format loader as load_url, so
          // parquet stays a lazy distributed scan
          val paths = strs("paths")
          require(paths.nonEmpty, "load_uploaded_files: empty `paths`")
          val fmt = str("format")
          val dfs = paths.map { p =>
            val uri =
              if (p.contains("://")) p
              else java.nio.file.Paths.get(p).toUri.toString
            graft.sources.UrlLoader.loadUrl(
              org.apache.spark.sql.SparkSession.active, uri, fmt)
          }
          TableV(dfs.reduce(_ unionByName _))
        case "load_vector_cube" =>
          // an inline `geometries` document arrives parsed; a URL or file
          // loads through VectorOps.loadVectorCube
          val spark = org.apache.spark.sql.SparkSession.active
          val url = optStr("URL").orElse(optStr("url"))
          val filename = optStr("filename")
          val props = opt("properties").map(_ => strs("properties")).getOrElse(Nil)
          TableV(opt("geometries").fold(
            VectorOps.loadVectorCube(spark, url, filename, None, props)) { _ =>
            require(url.isEmpty && filename.isEmpty,
              "load_vector_cube: provide exactly one of URL, filename, geometries")
            VectorOps.loadGeoJson(spark, obj("geometries"), props)
          })

        // ---- load_stac (reference: cubes/load.py:94-322) ----
        case "load_stac" =>
          val assets = graft.sources.StacLoader.loadCatalogItems(str("url"))
          val timeRange = opt("temporal_extent").map { _ =>
            val (s, e) = interval("temporal_extent")
            require(s.nonEmpty || e.nonEmpty,
              "TemporalExtentEmpty: both temporal bounds are null")
            // "" = open bound in filterAssets' lexicographic interval
            (s.getOrElse(""), e.getOrElse(""))
          }
          // properties: either the flattened {"name": [[op, value], ...]}
          // form, or the openEO WIRE form — one comparison callback
          // sub-graph per property ({"name": {"process_graph": {... eq/lt
          // over {"from_parameter": "value"} ...}}}), which is what real
          // exported graphs carry (reference forwards it as the STAC query
          // extension, cubes/load.py:153-154)
          // a comparison operand as the text StacLoader compares
          def litText(k: String, v: PValue): String = v match {
            case StrV(s) => s
            case NumV(d) => d.toString
            case BoolV(b) => b.toString
            case v => notA(s"properties.$k", "a string, number or boolean", v)
          }
          def callbackCond(k: String, g: Graph): (String, String) = {
            val n = g.result
            val pid = n.processId
            require(Set("eq", "neq", "lt", "lte", "gt", "gte")(pid),
              s"ProcessUnsupported: load_stac.properties.$k callback $pid " +
                "(eq/neq/lt/lte/gt/gte only)")
            def operand(side: String): String = n.args.get(side) match {
              case Some(Lit(v)) => litText(k, v)
              case v => throw new IllegalArgumentException(
                s"load_stac.properties.$k: $side is not a literal ($v)")
            }
            (n.args.get("x"), n.args.get("y")) match {
              case (Some(ParamRef(_)), _) => (pid, operand("y"))
              case (_, Some(ParamRef(_))) =>
                // the property value sits on y: flip the comparison
                val flipped = pid match {
                  case "lt" => "gt"; case "gt" => "lt"
                  case "lte" => "gte"; case "gte" => "lte"; case o => o
                }
                (flipped, operand("x"))
              case _ => throw new IllegalArgumentException(
                s"load_stac.properties.$k: neither side is from_parameter")
            }
          }
          val props: Map[String, Seq[(String, String)]] =
            opt("properties").map { _ =>
              obj("properties").obj.map { case (k, v) =>
                k -> (v match {
                  case JArray(conds) => conds.map {
                    case JArray(Seq(JString(op), value)) =>
                      (op, litText(k, literal(value)))
                    case c => throw new IllegalArgumentException(
                      s"load_stac.properties.$k: bad condition $c")
                  }
                  case cb: JObject if (cb \ "process_graph") != JNothing =>
                    Seq(callbackCond(k, parse(cb \ "process_graph")))
                  case c => throw new IllegalArgumentException(
                    s"load_stac.properties.$k: expected [[op, value]] or " +
                      s"a comparison callback, got $c")
                })
              }.toMap
            }.getOrElse(Map.empty)
          // spatial_extent prunes twice: item-level (assets whose bbox
          // misses the extent never plan any pixel work) and store-level
          // (the extent becomes Catalyst filters that the load's one
          // v2.CubeSource scan pushes down to chunk/segment index ranges —
          // a small bbox over a huge store decodes only intersecting
          // chunks, reference cubes/load.py:245-310)
          val bboxOpt = spatialExtent
          val sel = graft.sources.StacLoader.filterAssets(assets,
            bands = opt("bands").map(_ => strs("bands")),
            bbox = bboxOpt,
            timeRange = timeRange, properties = props)
          // temporal_extent prunes twice as well: item-level above and
          // store-level here — on a time-axis zarr store (cube:dimensions
          // labels) the extent maps to axis-0 chunk-index ranges, the
          // temporal twin of the bbox → chunk pushdown
          CubeV(graft.sources.StacLoader.loadCube(
            org.apache.spark.sql.SparkSession.active, sel, bbox = bboxOpt,
            timeRange = timeRange))

        // ---- scalar ----
        case "add" => ColV(Scalar.add(column("x"), column("y")))
        case "subtract" => ColV(Scalar.subtract(column("x"), column("y")))
        case "multiply" => ColV(Scalar.multiply(column("x"), column("y")))
        case "divide" => ColV(Scalar.divide(column("x"), column("y")))
        case "power" => ColV(Scalar.power(column("base"), column("p")))
        case "sqrt" => ColV(Scalar.sqrtC(column("x")))
        case "ln" => ColV(Scalar.ln(column("x")))
        case "exp" => ColV(Scalar.expC(column("x")))
        case "absolute" => ColV(Scalar.absolute(column("x")))
        case "floor" => ColV(Scalar.floorC(column("x")))
        case "clip" =>
          ColV(Scalar.clip(column("x"), num("min"), num("max")))
        case "linear_scale_range" =>
          ColV(Scalar.linearScaleRange(column("x"),
            num("inputMin"), num("inputMax"),
            optNum("outputMin").getOrElse(0.0),
            optNum("outputMax").getOrElse(1.0)))
        case "e" => ColV(Scalar.e)
        case "pi" => ColV(Scalar.pi)
        case "nan" => ColV(Scalar.nan)
        case "constant" => ColV(column("x"))
        case "mod" => ColV(Scalar.mod(column("x"), column("y")))
        case "arctan2" => ColV(Scalar.arctan2(column("y"), column("x")))
        case "log" => ColV(Scalar.logBase(column("x"), column("base")))
        case "normalized_difference" =>
          ColV(Scalar.normalizedDifference(column("x"), column("y")))
        case "ceil" => ColV(Scalar.ceilC(column("x")))
        case "int" => ColV(Scalar.int(column("x")))
        case "round" => ColV(Scalar.roundHalfEven(column("x"),
          optNum("p").map(_.toInt).getOrElse(0)))
        case "sgn" => ColV(Scalar.sgn(column("x")))
        // trigonometry family (reference: math.py:240-285)
        case "sin" => ColV(Scalar.sinC(column("x")))
        case "cos" => ColV(Scalar.cosC(column("x")))
        case "tan" => ColV(Scalar.tanC(column("x")))
        case "arcsin" => ColV(Scalar.arcsin(column("x")))
        case "arccos" => ColV(Scalar.arccos(column("x")))
        case "arctan" => ColV(Scalar.arctan(column("x")))
        case "sinh" => ColV(Scalar.sinhC(column("x")))
        case "cosh" => ColV(Scalar.coshC(column("x")))
        case "tanh" => ColV(Scalar.tanhC(column("x")))
        case "arsinh" => ColV(Scalar.arsinh(column("x")))
        case "arcosh" => ColV(Scalar.arcosh(column("x")))
        case "artanh" => ColV(Scalar.artanh(column("x")))
        case "is_nodata" => ColV(Scalar.isNodata(column("x")))
        case "is_valid" => ColV(Scalar.isValid(column("x")))
        case "is_nan" => ColV(Scalar.isNanC(column("x")))
        case "is_infinite" => ColV(Scalar.isInfinite(column("x")))
        case "gt" => ColV(Scalar.gt(column("x"), column("y")))
        case "lt" => ColV(Scalar.lt(column("x"), column("y")))
        case "gte" => ColV(Scalar.gte(column("x"), column("y")))
        case "lte" => ColV(Scalar.lte(column("x"), column("y")))
        case "eq" =>
          ColV(Scalar.eq(column("x"), column("y"),
            delta = optNum("delta"),
            caseSensitive = optBool("case_sensitive", true)))
        case "between" =>
          ColV(Scalar.between(column("x"), column("min"), column("max"),
            excludeMax = optBool("exclude_max", false)))
        // text sub-language (reference: text.py)
        case "text_begins" =>
          ColV(Scalar.textBegins(column("data"), str("pattern"),
            optBool("case_sensitive", true)))
        case "text_ends" =>
          ColV(Scalar.textEnds(column("data"), str("pattern"),
            optBool("case_sensitive", true)))
        case "text_contains" =>
          ColV(Scalar.textContains(column("data"), str("pattern"),
            optBool("case_sensitive", true)))
        case "text_concat" =>
          ColV(Scalar.textConcat(arr("data").map(element("data", _)),
            optStr("separator").getOrElse("")))
        // crawl/text-pipeline sub-language (beyond the reference: the
        // LLM-data operators graded first-class — scalar forms usable in
        // any apply/apply_dimension callback over a text-valued cube)
        case "html_extract" =>
          ColV(graft.pipeline.TextAnalysis.htmlExtract(column("x")))
        case "canonicalize_url" =>
          ColV(graft.pipeline.TextAnalysis.canonicalizeUrl(column("x")))
        case "registered_domain" =>
          // full-PSL eTLD+1 of a URL or host (url_host composes when the
          // input is a URL)
          ColV(graft.pipeline.TextAnalysis.registeredDomain(column("x")))
        case "url_host" =>
          ColV(graft.pipeline.TextAnalysis.urlHost(column("x")))
        case "lang_id" =>
          ColV(graft.pipeline.TextAnalysis.langId(column("x")))
        case "token_count" =>
          ColV(graft.pipeline.TextAnalysis.tokenCount(column("x")))
        case "subword_count" =>
          ColV(graft.pipeline.TextAnalysis.subwordCount(column("x")))
        case "quality_score" =>
          ColV(graft.pipeline.TextAnalysis.qualityScore(column("x")))
        case "fingerprint" =>
          ColV(graft.pipeline.TextAnalysis.fingerprint(column("x")))
        case "content_hash" =>
          ColV(graft.pipeline.TextAnalysis.contentHash(column("x")))
        case "redact_pii" =>
          // scalar form of the cube-level pii_redact, composable inside
          // any apply callback
          ColV(graft.pipeline.TextAnalysis.redactPii(column("x")))
        // dates (reference: dates.py)
        case "date_between" =>
          ColV(Scalar.dateBetween(column("x"), column("min"), column("max")))
        case "date_difference" =>
          ColV(Scalar.dateDifference(column("date1"), column("date2"),
            optStr("unit").getOrElse("second")))
        case "date_shift" =>
          ColV(Scalar.dateShift(column("date"), num("value").toInt, str("unit")))
        // array sub-language over ArrayType columns (reference: arrays.py)
        case "array_element" =>
          // index, or a `label` resolved against the series' own labels
          // (an ordered-array callback's `labelContext`; published NDVI
          // graphs address bands by label)
          if (args.contains("index") && args.contains("label"))
            throw new IllegalArgumentException(
              "ArrayElementParameterConflict: the process `array_element` " +
                "only allows that either the `index` or the `label` " +
                "parameter is set") // reference arrays.py:79-83
          arg("data") match {
            // LABELED array (a labels→values map): label access is a
            // guarded map lookup — a missing label raises the reference's
            // ArrayElementNotAvailable unless return_nodata; index access
            // goes positionally through the entry values (arrays.py:85-121)
            case LabeledV(m) =>
              val rn = optBool("return_nodata", false)
              args.get("label") match {
                case Some(StrV(lab)) => ColV(
                  graft.functions.ArrayFns.labeledElement(m, lit(lab), rn))
                case Some(NumV(lab)) => ColV(
                  graft.functions.ArrayFns.labeledElement(m, lit(lab), rn))
                case _ => ColV(graft.functions.ArrayFns.arrayElement(
                  map_values(m), num("index").toInt))
              }
            case _ => args.get("index") match {
              case Some(NumV(v)) => ColV(
                graft.functions.ArrayFns.arrayElement(column("data"), v.toInt))
              case _ => (args.get("label"), ctx.get("_labels"),
                  ctx.get("_keys")) match {
                case (Some(StrV(lab)), Some(ArrV(ls)), Some(ColV(keys))) =>
                  require(ls.contains(StrV(lab)), s"ArrayElementNotAvailable: " +
                    s"label '$lab' not among ${ls.size} dimension labels")
                  // the label's place in this series' own labels: null
                  // where the series lacks it (`get` is null out of range)
                  ColV(get(column("data"), array_position(keys, lab) - 1))
                case (Some(StrV(_)), _, _) => throw new IllegalArgumentException(
                  "ArrayNotLabeled: array_element label access needs a " +
                    "labeled array context")
                case _ => throw new IllegalArgumentException(
                  "ArrayElementParameterMissing: the process `array_element` " +
                    "requires either the `index` or `label` parameter to be " +
                    "set") // reference arrays.py:74-78
              }
            }
          }
        case "array_concat" => (arg("array1"), arg("array2")) match {
          // both labeled: shared labels are the reference's
          // ArrayLabelConflict (arrays.py:189-199)
          case (LabeledV(a), LabeledV(b)) =>
            LabeledV(graft.functions.ArrayFns.labeledConcat(a, b))
          case _ => ColV(concat(column("array1"), column("array2")))
        }
        case "array_append" =>
          ColV(graft.functions.ArrayFns.arrayAppend(column("data"), column("value")))
        case "array_contains" =>
          ColV(graft.functions.ArrayFns.arrayContains(column("data"), column("value")))
        case "array_apply" =>
          ColV(graft.functions.ArrayFns.arrayApply(column("data"),
            x => asColumn(runCallback(callback("process"),
              Map("x" -> ColV(x), "data" -> ColV(x)) ++ callbackContext),
              "array_apply cb")))
        case "array_filter" =>
          ColV(graft.functions.ArrayFns.arrayFilter(column("data"),
            x => asColumn(runCallback(callback("condition"),
              Map("x" -> ColV(x), "data" -> ColV(x)) ++ callbackContext),
              "array_filter cb", lits = false).cast("boolean")))
        case "array_create" =>
          ColV(graft.functions.ArrayFns.arrayCreate(column("data"),
            optNum("repeat").map(_.toInt).getOrElse(1)))
        case "array_modify" =>
          val mLen =
            optNum("length").map(_.toInt).getOrElse(1)
          (arg("data"), args.get("values")) match {
            case (LabeledV(d), Some(LabeledV(v))) =>
              LabeledV(graft.functions.ArrayFns.labeledModify(
                d, v, num("index").toInt, mLen))
            case _ => ColV(graft.functions.ArrayFns.arrayModify(
              column("data"), column("values"), num("index").toInt, mLen))
          }
        case "array_find" =>
          ColV(graft.functions.ArrayFns.arrayFind(column("data"),
            column("value"),
            reverse = optBool("reverse", false)))
        case "array_labels" =>
          ColV(graft.functions.ArrayFns.arrayLabels(column("data")))
        case "sort" =>
          ColV(graft.functions.ArrayFns.arraySort(column("data"),
            ascending = optBool("asc", true)))
        case "order" =>
          ColV(graft.functions.ArrayFns.orderIndices(column("data"),
            ascending = optBool("asc", true)))
        case "rearrange" =>
          ColV(graft.functions.ArrayFns.rearrange(column("data"),
            column("order")))
        // first/last are position-dependent: in an ordered-reduce context
        // (reduce_dimension injects `_order` = the reduced dim) they become
        // min_by/max_by aggregates over dimension order; in array context
        // they index the array (reference: arrays.py:461-495 for both)
        case "first" => ctx.get("_order") match {
          case Some(ColV(ord)) => ColV(Reducers.firstByOrder(column("data"), ord,
            ignoreNodata = optBool("ignore_nodata", true)))
          case _ => ColV(ArrayFns.arrayFirst(column("data"),
            ignoreNodata = optBool("ignore_nodata", true)))
        }
        case "last" => ctx.get("_order") match {
          case Some(ColV(ord)) => ColV(Reducers.lastByOrder(column("data"), ord,
            ignoreNodata = optBool("ignore_nodata", true)))
          case _ => ColV(ArrayFns.arrayLast(column("data"),
            ignoreNodata = optBool("ignore_nodata", true)))
        }
        case "neq" => ColV(Scalar.neq(column("x"), column("y")))
        case "and" => ColV(Scalar.and(column("x"), column("y")))
        case "or" => ColV(Scalar.or(column("x"), column("y")))
        case "xor" => ColV(Scalar.xor(column("x"), column("y")))
        case "not" => ColV(Scalar.not(column("x")))
        case "if" => ColV(Scalar.ifThen(column("value"), column("accept"),
          args.get("reject").map(_ => column("reject")).getOrElse(lit(null))))

        // ---- reducers (inside reduce_dimension callbacks) ----
        // Dual-context like first/last: in an `_array` reduce (the
        // ordered-array path — and any argument that is itself a literal
        // array, e.g. the published EVI example's sum over
        // [1, nir, 6*red, -7.5*blue]) they fold the array scalar-wise;
        // otherwise they are the partial-agg aggregates.
        case "mean" => reducer(ArrayFns.arrayMean, Reducers.meanR(_))
        case "sum" => reducer(ArrayFns.arraySum, Reducers.sumR(_))
        case "min" => reducer(ArrayFns.arrayMin, Reducers.minR(_))
        case "max" => reducer(ArrayFns.arrayMax, Reducers.maxR(_))
        case "median" => reducer(ArrayFns.arrayMedian, Reducers.medianR(_))
        case "sd" => reducer(ArrayFns.arraySd, Reducers.sdR(_))
        case "variance" => reducer(ArrayFns.arrayVariance, Reducers.varianceR(_))
        case "count" => reducer(ArrayFns.arrayCountValid, Reducers.countValid)
        case "product" => reducer(ArrayFns.arrayProduct, Reducers.productR)
        case "extrema" => reducer(ArrayFns.arrayExtrema, Reducers.extremaR(_))
        case "any" =>
          val ig = optBool("ignore_nodata", true)
          reducer(ArrayFns.arrayAnyTrue(_, ig), Reducers.anyR(_, ig))
        case "all" =>
          val ig = optBool("ignore_nodata", true)
          reducer(ArrayFns.arrayAllTrue(_, ig), Reducers.allR(_, ig))
        case "quantiles" =>
          // probabilities XOR q, with q (or a bare int) expanding to the
          // q-1 equidistant cut points (reference: math.py:341-365 —
          // QuantilesParameterConflict / QuantilesParameterMissing)
          def equidistant(q: Int): Seq[Double] =
            (1 until q).map(i => i.toDouble / q)
          val ps = (args.get("probabilities"), args.get("q")) match {
            case (Some(_), Some(_)) => throw new IllegalArgumentException(
              "QuantilesParameterConflict: set either `probabilities` or" +
                " `q`, not both")
            case (None, None) => throw new IllegalArgumentException(
              "QuantilesParameterMissing: one of `probabilities` or `q`" +
                " is required")
            case (Some(NumV(n)), _) => equidistant(n.toInt)
            // a ONE-element integral list is the q-count form too
            // (reference: math.py:356-362 expands [4] to quartile cuts).
            // JSON numbers arrive as doubles here, so "integral" means
            // whole-valued AND >= 2 — 0.0/1.0 stay literal probabilities
            // (both are valid), and any whole number >= 2 cannot be one.
            case (Some(ArrV(Seq(NumV(n)))), _)
                if n == math.floor(n) && n >= 2 =>
              equidistant(n.toInt)
            case (Some(ArrV(vs)), _) =>
              vs.map { case NumV(v) => v
                case v => throw new IllegalArgumentException(
                  s"quantiles: non-numeric probability $v") }
            case (_, Some(NumV(n))) => equidistant(n.toInt)
            case (p, q) => throw new IllegalArgumentException(
              s"quantiles: invalid parameters $p / $q")
          }
          ColV(if (ctx.contains("_array"))
            ArrayFns.arrayQuantiles(column("data"), ps)
          else Reducers.quantilesR(column("data"), ps))

        case other =>
          throw new IllegalArgumentException(s"ProcessUnsupported: $other")
      }
    }
  }
}
