package graft.operators

import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** run_udf (reference: openeo_processes_dask/process_implementations/
  * udf/udf.py:14-26): execute user-supplied source code against the cube.
  *
  * The reference evals Python in-process. On the JVM the same surface splits
  * in two, by runtime:
  *
  *  - JVM callbacks need no UDF machinery at all — a scalar sub-graph
  *    compiles to a Column tree ([[ApplyOps.apply]]), which is the fast path
  *    users should prefer.
  *  - Foreign runtimes (the openeo UDF contract is Python source) run via
  *    the classic Spark subprocess-pipe pattern: each partition streams its
  *    cells as JSON lines through an interpreter process running the user
  *    code inside a small harness, and the emitted JSON lines are parsed
  *    back with the cube's schema. One subprocess per partition — the
  *    interpreter launch amortizes over the partition, rows stream without
  *    materializing, and executors never share state.
  *
  * The user code must define `def udf(row): ...` returning the new cell
  * value; `row` is a dict of dimension values plus "value" (mirroring the
  * reference's cell-level `apply_datacube` flavour).
  */
object UdfOps {

  def runUdf(cube: DataCube, udf: String,
      runtime: String = "python3"): DataCube = {
    require(runtime == "python3",
      s"OpenEOException: unsupported UDF runtime $runtime (python3 only)")
    val spark = cube.df.sparkSession
    val schema: StructType = cube.df.schema
    val harness =
      s"""import sys, json
         |$udf
         |_cols = ${schema.fieldNames.map(n => "\"" + n + "\"").mkString("[", ", ", "]")}
         |for _line in sys.stdin:
         |    _row = json.loads(_line)
         |    for _c in _cols:  # to_json drops null fields; restore them
         |        _row.setdefault(_c, None)
         |    _row["${cube.meta.valueCol}"] = udf(_row)
         |    sys.stdout.write(json.dumps(_row) + "\\n")
         |""".stripMargin
    // the harness travels as a serialized command argument (`python3 -c`) —
    // nothing to stage on executor filesystems; pipe() runs it per partition
    val piped = cube.df
      .select(to_json(struct(cube.df.columns.toIndexedSeq.map(col): _*)).as("j"))
      .select("j").rdd.map(_.getString(0))
      .pipe(Seq("python3", "-c", harness))
    import spark.implicits._
    val parsed = spark.read.schema(schema).json(spark.createDataset(piped))
    DataCube(parsed, cube.meta)
  }

  /** CHUNK-level run_udf — the reference UDF contract's other flavour
    * (reference: udf/udf.py:14-26 hands the whole xarray chunk to
    * `run_udf_code`, so vectorized user code runs once per chunk, not once
    * per cell). Here a chunk is a PARTITION: the harness gathers the
    * partition's rows and makes ONE `udf(rows)` call with the full list,
    * emitting a list of rows back — the UDF may reshape (drop/add rows),
    * exactly like a chunk-rewriting `apply_datacube`. Chunk memory is
    * bounded by partition sizing, the same contract dask chunks have; a
    * per-chunk aggregate naturally depends on the partitioning, so
    * partition deliberately (repartition on series keys) before calling
    * when chunk contents are semantic.
    */
  def runUdfChunked(cube: DataCube, udf: String,
      runtime: String = "python3"): DataCube = {
    require(runtime == "python3",
      s"OpenEOException: unsupported UDF runtime $runtime (python3 only)")
    val spark = cube.df.sparkSession
    val schema: StructType = cube.df.schema
    val harness =
      s"""import sys, json
         |$udf
         |_cols = ${schema.fieldNames.map(n => "\"" + n + "\"").mkString("[", ", ", "]")}
         |_rows = []
         |for _line in sys.stdin:
         |    _row = json.loads(_line)
         |    for _c in _cols:  # to_json drops null fields; restore them
         |        _row.setdefault(_c, None)
         |    _rows.append(_row)
         |for _out in udf(_rows):  # ONE call over the whole chunk
         |    sys.stdout.write(json.dumps(_out) + "\\n")
         |""".stripMargin
    val piped = cube.df
      .select(to_json(struct(cube.df.columns.toIndexedSeq.map(col): _*)).as("j"))
      .select("j").rdd.map(_.getString(0))
      .pipe(Seq("python3", "-c", harness))
    import spark.implicits._
    val parsed = spark.read.schema(schema).json(spark.createDataset(piped))
    DataCube(parsed, cube.meta)
  }
}
