package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift firewall. The driver's testdata generator has shipped
  * `events.parquet` with three different physical `ts` encodings across
  * rounds: INT64 TIMESTAMP(NANOS) (which Spark reads as LongType under
  * spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP_NTZ (DuckDB's
  * isAdjustedToUTC=false micros), and session-zoned TIMESTAMP. A
  * regeneration flipping the encoding once stranded five registry queries
  * for two rounds (r8–r9: cast(timestamp_ntz as double) fails analysis).
  * This spec pins all encodings to one identical loader output frame, and
  * pins the FULL post-loader schema of every table the registry reads, so
  * the next drift — temporal or otherwise — breaks HERE, loudly, instead
  * of in the driver's correctness artifact.
  */
class TablesSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  /** (event_id, micros-since-epoch, value) fixture with sub-second parts so
    * truncation bugs (s vs ms vs us) can't cancel out.
    */
  private val fixture = Seq(
    (1L, 1704067200000000L, 1.5), // 2024-01-01T00:00:00Z
    (2L, 1704110445123456L, 2.5), // 2024-01-01T12:00:45.123456Z
    (3L, 1706744699999999L, 3.5)) // 2024-01-31T23:44:59.999999Z

  private def writeVariant(dir: java.io.File, tsExpr: String): String = {
    val df = fixture.toDF("event_id", "us", "value")
      .select(col("event_id"), expr(tsExpr).as("ts"), col("value"))
    df.coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "events.parquet").getPath)
    dir.getPath
  }

  /** A REAL INT64 TIMESTAMP(NANOS)-annotated parquet, written through
    * parquet-java directly (Spark cannot author nanos timestamps) — this
    * exercises the actual spark.sql.legacy.parquet.nanosAsLong read path
    * end-to-end, not just the post-read LongType branch of normalizeTs.
    */
  private def writeNanosAnnotated(dir: java.io.File): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    dir.mkdirs()
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .required(DOUBLE).named("value")
      .named("events")
    val path = new org.apache.hadoop.fs.Path(
      new java.io.File(dir, "events.parquet").getPath)
    val conf = new org.apache.hadoop.conf.Configuration()
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf).withType(schema).build()
    val factory = new SimpleGroupFactory(schema)
    try fixture.foreach { case (id, us, v) =>
      val g = factory.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L) // nanos
      g.add("value", v)
      writer.write(g)
    } finally writer.close()
    dir.getPath
  }

  test("events loader yields identical frames for all four ts encodings") {
    val base = java.nio.file.Files.createTempDirectory("graft_ts_enc").toFile
    // (a) REAL INT64 TIMESTAMP(NANOS) annotation — the encoding that broke
    //     r8; crosses the nanosAsLong read path for real
    val nanosDir = writeNanosAnnotated(new java.io.File(base, "nanos_anno"))
    // (a') pre-normalized long: what nanosAsLong hands the loader after
    //      reading (a) — pins the LongType branch contract directly
    val longDir = writeVariant(new java.io.File(base, "nanos"), "us * 1000")
    // (b) TIMESTAMP_NTZ micros — the current DuckDB-written testdata form
    val ntzDir = writeVariant(new java.io.File(base, "ntz"),
      "cast(timestamp_micros(us) as timestamp_ntz)")
    // (c) session-zoned TIMESTAMP — the classic Spark-written form
    val ltzDir = writeVariant(new java.io.File(base, "ltz"),
      "timestamp_micros(us)")

    val dirs = Seq(nanosDir, longDir, ntzDir, ltzDir)
    val frames = dirs.map { d =>
      val df = Tables.events(spark, d)
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"$d: ts must normalize to TimestampType, got ${df.schema("ts")}")
      df.select(col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    }
    frames.tail.zip(dirs.tail).foreach { case (f, d) =>
      assert(f == frames.head, s"encoding drift: $d vs $nanosDir")
    }
    assert(frames.head.map(_._2) == fixture.map(_._2),
      "normalized micros must equal the source instants")

    // epoch arithmetic — the exact pattern that failed analysis on NTZ —
    // must analyze on the loader's output for every encoding
    dirs.foreach { d =>
      val secs = Tables.events(spark, d)
        .select(col("ts").cast("double").as("s")).collect().map(_.getDouble(0))
      assert(secs.length == 3 && secs.forall(_ > 1.7e9), s"$d: epoch cast")
    }
  }

  test("normalizeTs leaves already-normalized frames untouched") {
    val df = Seq((1L, "a")).toDF("id", "name")
      .withColumn("ts", current_timestamp())
    assert(Tables.normalizeTs(df).schema == df.schema)
  }

  test("normalizeTs names the missing column on renamed/dropped drift") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val e = intercept[IllegalArgumentException](Tables.normalizeTs(df))
    assert(e.getMessage.contains("testdata drift") &&
      e.getMessage.contains("'ts'"), e.getMessage)
  }

  test("normalizeTs rejects an unhandled fourth encoding loudly") {
    // a DATE (or string) drift of l_shipdate/o_orderdate must fail in the
    // loader with a drift message, not pass through and strand epoch casts
    val df = Seq((1L, "2024-01-01")).toDF("id", "d")
      .select(col("id"), col("d").cast("date").as("ts"))
    val e = intercept[IllegalArgumentException](Tables.normalizeTs(df))
    assert(e.getMessage.contains("unhandled encoding"), e.getMessage)
  }

  // ---- full-table schema contract -------------------------------------
  // Post-LOADER schema (names + types, order included) of every table the
  // registry reads, pinned for each testdata scale dir present. A testdata
  // regeneration that renames or retypes any column breaks here with the
  // table and column named, not in the driver artifact.
  private val expectedSchemas: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("region", Tables.read(_, _, "region"),
      "r_regionkey int, r_name string"),
    ("nation", Tables.nation,
      "n_nationkey int, n_name string, n_regionkey int"),
    ("customer", Tables.customer,
      "c_custkey bigint, c_name string, c_nationkey int, " +
        "c_acctbal double, c_mktsegment string"),
    ("supplier", Tables.supplier,
      "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"),
    ("part", Tables.part,
      "p_partkey bigint, p_name string, p_brand string, p_type string, " +
        "p_size int, p_retailprice double"),
    ("orders", Tables.orders,
      "o_orderkey bigint, o_custkey bigint, o_orderstatus string, " +
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"),
    ("lineitem", (sp, d) => Tables.lineitem(sp, d),
      "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, " +
        "l_linenumber int, l_quantity double, l_extendedprice double, " +
        "l_discount double, l_tax double, l_returnflag string, " +
        "l_linestatus string, l_shipdate timestamp"),
    ("events", (sp, d) => Tables.events(sp, d),
      "event_id bigint, ts timestamp, user_id bigint, event_type string, " +
        "value double, props string"),
    ("documents", Tables.documents,
      "doc_id bigint, text string, lang string, source string, n_chars bigint"),
    ("embeddings", Tables.embeddings,
      "vec_id bigint, embedding array<float>, label int"))

  test("every testdata table matches its pinned post-loader schema") {
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").filter(d => new java.io.File(d).isDirectory)
    assert(dirs.nonEmpty, "no testdata dirs found")
    for (dir <- dirs; (name, load, want) <- expectedSchemas) {
      val got = load(spark, dir).schema.fields
        .map(f => s"${f.name} ${f.dataType.catalogString}").mkString(", ")
      assert(got == want,
        s"testdata drift in $dir/$name.parquet:\n  got:  $got\n  want: $want")
    }
  }
}
