package graft.queries

import graft.core._
import graft.functions.{Reducers, Scalar}
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness queries for the cube operator surface (SURVEY.md §2.2-§2.10),
  * each paired with a DuckDB oracle in [[oracles]].
  *
  * Float-determinism discipline: any aggregate whose result depends on
  * accumulation order (sum/avg of doubles) is computed in an exact integer
  * domain (cents / scaled bigints) so Spark and DuckDB produce bit-identical
  * results regardless of partitioning — the same property that makes runs
  * reproducible across cluster sizes.
  */
object CubeQueries {

  private def cents(c: Column): Column = round(c * 100).cast("bigint")

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- sources (§2.1) ----
    "stac_load" -> { (s, _) =>
      // load_stac end to end against a deterministic file:// catalog
      // written at query build (StacFixture — the synthesize-at-setup
      // discipline of pii_redact/line_dedup): catalog traversal → band +
      // time-range + property (eo:cloud_cover lt 50) search pruning
      // (items 2-3 drop before any pixel work) → REAL deflate-TIFF strip
      // decode → georeferenced long-form cube. The id-derived pixels are
      // float32-exact integers, so the oracle mirrors the entire load
      // arithmetically.
      val fix = StacFixture.ensure()
      val assets =
        graft.sources.StacLoader.loadCatalogItems(s"file://$fix/catalog.json")
      val sel = graft.sources.StacLoader.filterAssets(assets,
        bands = Some(StacFixture.bands),
        timeRange = Some(("2024-01-01T00:00:00Z", "2024-01-10T00:00:00Z")),
        properties = Map("eo:cloud_cover" -> Seq(("lt", "50"))))
      graft.sources.StacLoader.loadCube(s, sel).df
    },
    "stac_zarr" -> { (s, _) =>
      // load_stac's ZARR branch end to end against a deterministic
      // file:// catalog of six zarr stores written at query build
      // (StacFixture.ensureZarr): catalog traversal → per-chunk executor
      // fan-out → REAL decode covering zlib inflate (v2 rank-2 <f8), raw
      // little-endian <f4 (v2 rank-3, axis-0 slices become bands
      // zb_0/zb_1), spec edge-chunk padding clip, MISSING chunks
      // materializing as fill_value, the nested "/" dimension_separator
      // walk, a zarr V3 store (zarr.json metadata, float32, gzip+crc32c
      // codec chain, default c/-prefixed keys), a v2 BLOSC(lz4 +
      // byte-shuffle) store — zarr-python's default compressor, decoded
      // pure-JVM through the container's split, leftover and unshuffle
      // paths — a V3 [bytes, zstd, crc32c] store, AND a v2
      // BLOSC(blosclz + BIT-shuffle) store exercising the pure-JVM
      // blosclz LZ77 decode and the bit-plane untranspose, all through
      // the same load_stac path. Grid steps are exactly 1.0, so the
      // oracle mirrors the load as pure integer arithmetic.
      // Reference: cubes/load.py:245-304.
      val fix = StacFixture.ensureZarr()
      val assets = graft.sources.StacLoader.loadCatalogItems(
        s"file://$fix/zcatalog.json")
      graft.sources.StacLoader.loadCube(s, assets).df
    },
    "stac_pushdown" -> { (s, _) =>
      // the FILTER-AFTER-LOAD ordering the DataSourceV2 facade exists
      // for: load_stac with NO extents, then filter_bbox and
      // filter_temporal as downstream graph nodes. Catalyst pushes the
      // x/y/t predicates into the load's CubeScan, which plans only the
      // intersecting chunks (and the five stores whose constant datetime
      // misses the window plan ZERO reads) — same rows as extents
      // given at the loader, the reference's lazy xarray slicing
      // (cubes/load.py:245-310). The oracle mirrors the za store's
      // arithmetic under the extent.
      val fix = StacFixture.ensureZarr()
      val assets = graft.sources.StacLoader.loadCatalogItems(
        s"file://$fix/zcatalog.json")
      val loaded = graft.sources.StacLoader.loadCube(s, assets)
      val cut = graft.operators.FilterOps.filterTemporal(
        graft.operators.FilterOps.filterBbox(loaded,
          west = 0.0, east = 5.0, south = 0.0, north = 7.0),
        Some("2024-03-01"), Some("2024-03-02"), None)
      cut.df
    },
    "zarr_roundtrip" -> { (s, dir) =>
      // save_result's zarr SINK under correctness: a dense lineitem grid
      // is written at query build through the DISTRIBUTED ZarrWriter
      // (executor-written zlib chunk files; once per JVM — RasterFixture),
      // read back through ZarrReader's chunk fan-out, and index-mapped
      // back to grid labels (row 0 = max y, north-up). NaN fill cells (a
      // sparse corpus) drop on both sides, so the oracle is the plain
      // parquet aggregate. This row crosses write+read: a codec or
      // layout bug on either side breaks the hash.
      val store = RasterFixture.ensureZarrGrid(s, dir)
      graft.sources.ZarrReader.loadArray(s, store, Seq("_r", "_c"))
        .where(!isnan(col("value")))
        .select((lit(RasterFixture.gridH - 1) - col("_r")).cast("bigint").as("y"),
          col("_c").cast("bigint").as("x"), col("value"))
    },
    "zarr_v3_roundtrip" -> { (s, dir) =>
      // save_result's zarr V3 sink under correctness: the same lineitem
      // grid written as a zarr.json store ([bytes, gzip, crc32c] codecs,
      // nested c/r/c default keys) and read back through the reader's v3
      // branch — metadata mapping, gzip decode and crc32c verification
      // are all on the hash path
      val store = RasterFixture.ensureZarrGridV3(s, dir)
      graft.sources.ZarrReader.loadArray(s, store, Seq("_r", "_c"))
        .where(!isnan(col("value")))
        .select((lit(RasterFixture.gridH - 1) - col("_r")).cast("bigint").as("y"),
          col("_c").cast("bigint").as("x"), col("value"))
    },
    "zarr_blosc_roundtrip" -> { (s, dir) =>
      // save_result's zarr v2 sink under zarr-python's DEFAULT compressor:
      // the same lineitem grid written as blosc(lz4 + byte-shuffle)
      // chunks through the pure-JVM Blosc encoder (executor-side, one
      // groupByKey shuffle) and read back through the container's
      // split/stored-split/unshuffle decode paths — a header, split-rule
      // or shuffle bug on either side breaks the hash
      val store = RasterFixture.ensureZarrGridBlosc(s, dir)
      graft.sources.ZarrReader.loadArray(s, store, Seq("_r", "_c"))
        .where(!isnan(col("value")))
        .select((lit(RasterFixture.gridH - 1) - col("_r")).cast("bigint").as("y"),
          col("_c").cast("bigint").as("x"), col("value"))
    },
    "tiff_roundtrip" -> { (s, dir) =>
      // save_result's GTiff SINK under correctness: the same lineitem grid
      // written through TiffWriter (deflate multi-strip) at query build,
      // read back through TiffReader's distributed segment fan-out — a
      // codec or strip-layout bug on either side breaks the hash. Sums are
      // integral and < 2^24, so the f4 round-trip is exact.
      val tif = RasterFixture.ensureTiffGrid(s, dir)
      graft.sources.TiffReader.loadArray(s, tif, Seq("_r", "_c"))
        .where(!isnan(col("value")))
        .select((lit(RasterFixture.gridH - 1) - col("_r")).cast("bigint").as("y"),
          col("_c").cast("bigint").as("x"),
          col("value").cast("double").as("value"))
    },
    // ---- filters (§2.2) ----
    "filter_temporal" -> { (s, dir) =>
      val c = Tables.eventsCube(s, dir)
      val filtered = FilterOps.filterTemporal(c, "2024-01-10", "2024-01-20")
      ReduceOps.reduceDimensionMulti(filtered, "t", Seq(
        "n" -> (_ => Reducers.countAll()),
        "sum_cents" -> (v => sum(cents(v))))).df
    },
    "filter_bands" -> { (s, dir) =>
      val c = Tables.lineitemCube(s, dir)
      val filtered = FilterOps.filterBands(c, Seq("A", "N"))
      ReduceOps.reduceDimensionMulti(filtered, "t", Seq(
        "n" -> (_ => Reducers.countAll()),
        "sum_qty" -> (v => sum(v).cast("bigint")))).df
    },
    "filter_bbox" -> { (s, dir) =>
      val c = Tables.lineitemCube(s, dir,
        Seq("l_partkey" -> "x", "l_suppkey" -> "y", "l_linestatus" -> "band"))
      val filtered = FilterOps.filterBbox(c, 50, 150, 3, 8)
      filtered.df.groupBy(col("band"))
        .agg(count(lit(1)).as("n"), sum(col("value")).cast("bigint").as("sum_qty"))
    },
    "filter_labels" -> { (s, dir) =>
      val c = Tables.eventsCube(s, dir, extraDims = Seq("user_id"))
      val filtered = FilterOps.filterLabels(c, "user_id", l => pmod(l, lit(7)) === 0)
      filtered.df.groupBy(col("band")).agg(count(lit(1)).as("n"))
    },

    // ---- element-wise apply + scalar sub-language (§2.7) ----
    // the constant processes + create_data_cube, the last previously
    // oracle-uncovered corners of §2: e/pi at 10 decimals (both engines'
    // exp(1)/pi are the correctly-rounded doubles, 5e-11 from the rounding
    // boundary), constant passthrough, and the empty cube's row count
    "scalar_constants" -> { (s, dir) =>
      val nEmpty = graft.sources.CubeIO.createDataCube(s).df.count()
      s.range(1).select(
        round(Scalar.e, 10).as("e_v"),
        round(Scalar.pi, 10).as("pi_v"),
        Scalar.constant(42.5).as("const_v"),
        lit(nEmpty).as("n_empty"))
    },
    "apply_math" -> { (s, dir) =>
      val c = Tables.lineitemCube(s, dir, valueCol = "l_extendedprice")
      val applied = ApplyOps.apply(c, v =>
        floor(Scalar.sqrtC(Scalar.linearScaleRange(v, 0, 100000)) * 10000))
      val extra = ApplyOps.apply(c, v =>
        floor((Scalar.ln(Scalar.add(v, lit(1))) + pmod(v, lit(7))) * 1000))
      val a = applied.df.groupBy(col("band"))
        .agg(sum(col("value")).cast("bigint").as("s_scaled"))
      val b = extra.df.groupBy(col("band"))
        .agg(sum(col("value")).cast("bigint").as("s_lnmod"))
      a.join(b, "band")
    },

    "apply_trig" -> { (s, dir) =>
      // full trig family panel (reference: math.py:240-285) + nan (math.py:83-91).
      // u = quantity/50 ∈ (0, 1] keeps every function in-domain (arcosh gets
      // 1+u, artanh gets 0.99·u); hashes are 1e6-floor-scaled integer sums.
      val c = Tables.lineitemCube(s, dir)
      val u = ApplyOps.apply(c, v => Scalar.divide(v, lit(50.0)))
      def m(f: Column => Column): Column =
        sum(floor(f(col("value")) * 1e6)).cast("bigint")
      u.df.groupBy(col("band")).agg(
        m(Scalar.sinC).as("s_sin"), m(Scalar.cosC).as("s_cos"),
        m(Scalar.tanC).as("s_tan"), m(Scalar.arcsin).as("s_asin"),
        m(Scalar.arccos).as("s_acos"), m(Scalar.arctan).as("s_atan"),
        m(Scalar.sinhC).as("s_sinh"), m(Scalar.coshC).as("s_cosh"),
        m(Scalar.tanhC).as("s_tanh"), m(Scalar.arsinh).as("s_asinh"),
        m(v => Scalar.arcosh(Scalar.add(v, lit(1.0)))).as("s_acosh"),
        m(v => Scalar.artanh(Scalar.multiply(v, lit(0.99)))).as("s_atanh"),
        count(when(isnan(Scalar.add(col("value"), Scalar.nan)), 1)).as("n_nan"))
    },

    // ---- reducers (§2.4) ----
    "reduce_mean" -> { (s, dir) =>
      val c = Tables.eventsCube(s, dir)
      val centsCube = ApplyOps.apply(c, v => cents(v))
      val m = ReduceOps.reduceDimension(centsCube, "t", v => Reducers.meanR(v))
      m.df.select(col("band"), round(col("value") / 100.0, 6).as("avg_v"))
    },
    "reduce_stats" -> { (s, dir) =>
      val c = Tables.lineitemCube(s, dir)
      ReduceOps.reduceDimensionMulti(c, "t", Seq(
        "n" -> (v => Reducers.countValid(v)),
        "min_q" -> (v => Reducers.minR(v)),
        "max_q" -> (v => Reducers.maxR(v)),
        "sum_q" -> (v => Reducers.sumR(v).cast("bigint")),
        "median_q" -> (v => round(Reducers.medianR(v), 6)),
        "var_q" -> (v => round(Reducers.varianceR(v), 6)),
        "sd_q" -> (v => round(Reducers.sdR(v), 6)))).df
    },
    "reduce_quantiles" -> { (s, dir) =>
      val c = Tables.lineitemCube(s, dir)
      val q = ReduceOps.reduceDimension(c, "t",
        v => Reducers.quantilesR(v, Seq(0.1, 0.25, 0.5, 0.75, 0.9)))
      q.df.select(col("band"),
        round(element_at(col("value"), 1), 6).as("q10"),
        round(element_at(col("value"), 2), 6).as("q25"),
        round(element_at(col("value"), 3), 6).as("q50"),
        round(element_at(col("value"), 4), 6).as("q75"),
        round(element_at(col("value"), 5), 6).as("q90"))
    },
    "reduce_product" -> { (s, dir) =>
      // product reducer, computed in the exact integer domain (1+tax scaled
      // to 100+cents; Π ≤ 108^7 < 2^53 so every multiply is exact and
      // order-independent — bit-stable across engines and partitionings).
      // (okey, ln) coordinates are not unique in the raw table; a cube has
      // one cell per coordinate, so duplicates collapse with min — FUSED
      // into the product aggregation itself (productExactDedupR): one
      // shuffle keyed by okey, vs. the former dedup-groupBy(okey,ln) +
      // product-groupBy(okey) double shuffle of the whole fact table.
      // (reduceDimension(productExactR) over a pre-deduped cube is the
      // general path; this is its fused single-shuffle physical form.)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").as("ln"),
          (cents(col("l_tax")) + 100).cast("long").as("value"))
        .groupBy(col("l_orderkey"))
        .agg(Reducers.productExactDedupR(col("ln"), col("value")).as("prod_scaled"))
    },

    "scalar_predicates" -> { (s, dir) =>
      // comparison/logic sub-language panel (§2.7/§2.8): eq-with-delta,
      // between, xor, if, is_valid over a value masked null every 10th row
      val e = Tables.events(s, dir).select(col("event_type").as("band"),
        when(col("event_id") % 10 === 0, lit(null))
          .otherwise(col("value")).as("v"))
      val p = e.select(col("band"),
        Scalar.eq(col("v"), lit(100.0), delta = Some(50.0)).as("near100"),
        Scalar.between(col("v"), lit(10.0), lit(50.0)).as("btw"),
        Scalar.xor(col("v") > 100, col("v") > 200).as("x_or"),
        Scalar.ifThen(col("v") > 150, lit(1.0), lit(0.0)).as("iff"),
        Scalar.isValid(col("v")).as("valid"))
      p.groupBy(col("band")).agg(
        count(when(col("near100"), 1)).as("n_near100"),
        count(when(col("btw"), 1)).as("n_btw"),
        count(when(col("x_or"), 1)).as("n_xor"),
        count(when(col("near100").isNull, 1)).as("n_null_pred"),
        sum(col("iff")).cast("bigint").as("sum_if"),
        count(when(col("valid"), 1)).as("n_valid"))
    },
    "reduce_bool" -> { (s, dir) =>
      // any/all reducers with 3-valued nodata semantics (logic.py:58-87):
      // flag is null where discount > 0.05, else quantity > 25
      val df = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("band"),
        when(col("l_discount") > 0.05, lit(null))
          .otherwise(col("l_quantity") > 25).as("value"))
      val c = DataCube.fromTable(df.withColumn("r", lit(1)), Seq("band", "r"), "value")
      ReduceOps.reduceDimensionMulti(c, "r", Seq(
        "any_v" -> (v => Reducers.anyR(v)),
        "all_v" -> (v => Reducers.allR(v)),
        "any_strict" -> (v => Reducers.anyR(v, ignoreNodata = false)),
        "all_strict" -> (v => Reducers.allR(v, ignoreNodata = false)))).df
    },

    // ---- merge / mask (§2.3) ----
    "merge_cubes" -> { (s, dir) =>
      def half(pred: Column): DataCube = {
        val df = Tables.lineitem(s, dir).filter(pred)
          .groupBy(col("l_partkey").as("x"))
          .agg(sum(col("l_quantity")).as("value"))
        DataCube(df, CubeMetadata(Seq(CubeDim("x", DimType.Spatial)), valueCol = "value"))
      }
      val cut = to_timestamp(lit("1996-01-01"))
      val merged = MergeOps.mergeCubes(
        half(col("l_shipdate") < cut), half(col("l_shipdate") >= cut),
        Some((a, b) => a + b))
      merged.df.select(col("x").cast("bigint").as("l_partkey"),
        col("value").cast("bigint").as("total"))
    },
    "mask" -> { (s, dir) =>
      val data = Tables.lineitemCube(s, dir,
        Seq("l_orderkey" -> "x", "l_returnflag" -> "band"))
      val maskDf = Tables.orders(s, dir)
        .select(col("o_orderkey").as("x"), (col("o_orderstatus") === "F").as("value"))
      val maskCube = DataCube.fromTable(maskDf, Seq("x"), "value")
      val masked = MergeOps.mask(data, maskCube)
      masked.df.groupBy(col("band")).agg(
        count(col("value")).as("n_valid"),
        sum(col("value")).cast("bigint").as("sum_qty"))
    },

    // ---- temporal aggregation (§2.4) ----
    "aggregate_temporal_period" -> { (s, dir) =>
      val c = Tables.eventsCube(s, dir)
      val centsCube = ApplyOps.apply(c, cents)
      val agg = AggregateOps.aggregateTemporalPeriod(centsCube, "week",
        v => Reducers.sumR(v))
      agg.df.select(col("t").cast("date").as("week"), col("band"),
        col("value").cast("bigint").as("sum_cents"))
    },
    "climatology_normal" -> { (s, dir) =>
      // openEO proposal climatological_normal (frequency=month): the
      // year-collapsing mean per (month, band) — exact because the cube
      // is quantized to integer cents first (integer-valued double sums
      // are associative; avg = one exact sum / one count on both engines)
      val c = Tables.eventsCube(s, dir)
      val n = AggregateOps.climatologicalNormal(
        ApplyOps.apply(c, cents), "month")
      n.df.select(col("t").as("m"), col("band"),
        round(col("value"), 6).as("normal_cents"))
    },
    "climatology_anomaly" -> { (s, dir) =>
      // openEO proposal anomaly: per-event deviation from its (month,
      // band) normal; the metadata-sized normals broadcast onto the fact
      // scan — the events table never shuffles
      val c = ApplyOps.apply(Tables.eventsCube(s, dir), cents)
      val n = AggregateOps.climatologicalNormal(c, "month")
      val a = AggregateOps.anomaly(c, n, "month")
      a.df.select(unix_micros(col("t")).as("t_us"), col("band"),
        round(col("value"), 6).as("anom_cents"))
    },
    "aggregate_temporal" -> { (s, dir) =>
      val c = Tables.eventsCube(s, dir)
      val centsCube = ApplyOps.apply(c, cents)
      // note the OVERLAPPING "both" interval — the openeo spec allows a cell
      // to land in several bins (why this is a range join, not a CASE)
      val agg = AggregateOps.aggregateTemporal(centsCube, Seq(
        AggregateOps.Interval("2024-01-01", "2024-01-08", "w1"),
        AggregateOps.Interval("2024-01-08", "2024-01-20", "mid"),
        AggregateOps.Interval("2024-01-01", "2024-01-20", "both"),
        AggregateOps.Interval("2024-01-25", "2024-01-28", "late"),
        AggregateOps.Interval("2024-02-10", "2024-02-11", "empty")),
        v => Reducers.sumR(v))
      agg.df.select(col("t"), col("band"),
        col("value").cast("bigint").as("sum_cents"))
    },

    // ---- as-of resample (§2.3) ----
    "resample_cube_temporal" -> { (s, dir) =>
      val targets = Seq("2024-01-05", "2024-01-15", "2024-01-25")
        .map(d => java.sql.Timestamp.valueOf(d + " 00:00:00"))
      val c = Tables.eventsCube(s, dir)
      val r = ResampleOps.resampleCubeTemporal(c, targets)
      r.df.select(col("band"), col("t").cast("date").as("t"), col("value"))
    },
    // valid_within branch (reference: cubes/resample.py:210-218): targets
    // whose nearest label is farther than the tolerance keep their rows but
    // yield null values. Events span January only, so 2024-02-15 with a
    // 2-day tolerance is guaranteed out-of-range at every sf.
    "resample_cube_temporal_tolerance" -> { (s, dir) =>
      val targets = Seq("2024-01-10", "2024-01-31", "2024-02-15")
        .map(d => java.sql.Timestamp.valueOf(d + " 00:00:00"))
      val c = Tables.eventsCube(s, dir)
      val r = ResampleOps.resampleCubeTemporal(c, targets,
        validWithinDays = Some(2.0))
      r.df.select(col("band"), col("t").cast("date").as("t"), col("value"))
    },

    // ---- dim utilities (§2.9) ----
    "dim_utils" -> { (s, dir) =>
      val c = Tables.eventsCube(s, dir)
      val renamed = CubeDimOps.renameLabels(c, "band",
        Map("click" -> "tap", "view" -> "impression"))
      val withModel = CubeDimOps.addDimension(renamed, "model", "m1")
      withModel.df.groupBy(col("band"), col("model")).agg(count(lit(1)).as("n"))
    },
    "trim_cube" -> { (s, dir) =>
      val df = Tables.lineitem(s, dir)
        .select(col("l_linenumber").cast("bigint").as("x"),
          when(col("l_quantity") < 3, col("l_extendedprice")).as("value"))
      val c = DataCube.fromTable(df, Seq("x"), "value")
      val trimmed = CubeDimOps.trimCube(c, Seq("x"))
      trimmed.df.groupBy(col("x")).agg(
        count(lit(1)).as("n"), count(col("value")).as("nv"))
    },

    // ---- beyond-reference openEO spec processes (proposals) ----
    "flatten_dims" -> { (s, dir) =>
      // flatten_dimensions: (t, band) → one "tb" dimension whose labels
      // are "<shipdate>~<returnflag>"; reduce per flattened label
      val c = Tables.lineitemCube(s, dir)
      val flat = CubeDimOps.flattenDimensions(c, Seq("t", "band"), "tb")
      flat.df.groupBy(col("tb"))
        .agg(sum(col("value")).cast("bigint").as("sum_qty"))
    },
    "unflatten_dims" -> { (s, dir) =>
      // round trip: flatten (t, band) → "tb", then unflatten back out —
      // exercises the split guard and label fidelity in one row.
      // rebalance: the per-row concat/split string work IS the heavy stage
      // (measured −0.66 s interleaved A/B, r19)
      val c = Tables.lineitemCube(s, dir, rebalance = true)
      val flat = CubeDimOps.flattenDimensions(c, Seq("t", "band"), "tb")
      val back = CubeDimOps.unflattenDimension(flat, "tb", Seq("t2", "band2"))
      back.df.groupBy(col("t2"), col("band2"))
        .agg(sum(col("value")).cast("bigint").as("sum_qty"))
    },
    "aggregate_spatial_window" -> { (s, dir) =>
      // 4×3-PIXEL windows over the part/supp integer grid, boundary=trim:
      // windows not fully covered by the axis drop; labels = the window's
      // first cell coordinate
      val c = Tables.lineitemCube(s, dir,
        Seq("l_partkey" -> "x", "l_suppkey" -> "y"))
      val w = SpatialOps.aggregateSpatialWindow(c, v => Reducers.sumR(v),
        sizeX = 4, sizeY = 3, boundary = "trim")
      w.df.select(col("x").cast("bigint").as("x"),
        col("y").cast("bigint").as("y"),
        col("value").cast("bigint").as("sum_qty"))
    },

    // ---- spatial binning resample (§2.10) ----
    "resample_spatial_agg" -> { (s, dir) =>
      val c = Tables.lineitemCube(s, dir,
        Seq("l_partkey" -> "x", "l_suppkey" -> "y"))
      val r = ResampleOps.resampleSpatialAgg(c, 50, 4, v => Reducers.sumR(v))
      r.df.select(col("x").cast("bigint").as("x"), col("y").cast("bigint").as("y"),
        col("value").cast("bigint").as("sum_qty"))
    },
    "resample_mode" -> { (s, dir) =>
      val c = Tables.lineitemCube(s, dir,
        Seq("l_partkey" -> "x", "l_suppkey" -> "y"))
      val r = ResampleOps.resampleSpatialMode(c, 50, 4)
      r.df.select(col("x").cast("bigint").as("x"), col("y").cast("bigint").as("y"),
        col("value").as("mode_qty"))
    },
    "resample_cubic" -> { (s, dir) =>
      val r = ResampleOps.resampleSpatialKernel(eventsGrid(s, dir),
        KernelTargets, ResampleOps.CubicKernel)
      r.df.select(col("x"), col("y"), col("value"))
    },
    "resample_lanczos" -> { (s, dir) =>
      val r = ResampleOps.resampleSpatialKernel(eventsGrid(s, dir),
        KernelTargets, ResampleOps.LanczosKernel)
      r.df.select(col("x"), col("y"), col("value"))
    },
    "resample_cubicspline" -> { (s, dir) =>
      val r = ResampleOps.resampleSpatialKernel(eventsGrid(s, dir),
        KernelTargets, ResampleOps.CubicSplineKernel)
      r.df.select(col("x"), col("y"), col("value"))
    },
    "resample_near" -> { (s, dir) =>
      // method="near" (the openeo default): value at the cell nearest each
      // 50×4 bin center, deterministic (dist, x, y, value) tie-break
      val c = Tables.lineitemCube(s, dir,
        Seq("l_partkey" -> "x", "l_suppkey" -> "y"), rebalance = true)
      val r = ResampleOps.resampleSpatialNear(c, 50, 4)
      r.df.select(col("x").cast("bigint").as("x"),
        col("y").cast("bigint").as("y"),
        round(col("value"), 6).as("near_v"))
    },
    "resample_quartiles" -> { (s, dir) =>
      // q1/q3 binning methods (reference: resample.py:23-36) via the
      // quantile reducer over the same 50×4 cells as resample_spatial_agg
      val c = Tables.lineitemCube(s, dir,
        Seq("l_partkey" -> "x", "l_suppkey" -> "y"), rebalance = true)
      val r = ResampleOps.resampleSpatialAgg(c, 50, 4,
        v => Reducers.quantilesR(v, Seq(0.25, 0.75)))
      r.df.select(col("x").cast("bigint").as("x"), col("y").cast("bigint").as("y"),
        round(element_at(col("value"), 1), 6).as("q1"),
        round(element_at(col("value"), 2), 6).as("q3"))
    }
  )

  /** integer (x, y) grid of summed cents from events — the shared source for
    * the interpolating-kernel queries.
    */
  private def eventsGrid(s: SparkSession, dir: String): DataCube = {
    val df = Tables.events(s, dir)
      .groupBy((col("user_id") % 20).as("x"), (col("event_id") % 25).as("y"))
      .agg(sum(cents(col("value"))).as("value"))
    DataCube.fromTable(df, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
  }

  private val KernelTargets: Seq[(Double, Double)] =
    Seq((5.3, 7.6), (10.5, 12.25), (2.75, 3.5), (15.1, 20.9))

  /** Kernel corner weights as a DuckDB VALUES literal — generated from the
    * SAME driver-side computation the Spark operator inlines, so both engines
    * fold identical doubles.
    */
  private def cornersSql(k: ResampleOps.InterpKernel): String =
    // every numeric literal via string→DOUBLE parse (see OracleSql.d): the
    // DECIMAL→DOUBLE cast path re-rounds 17-digit weights by one ulp
    ResampleOps.kernelCorners(KernelTargets, k)
      .map { case (ci, tx, ty, sx, sy, w) =>
        import OracleSql.d
        s"($ci, ${d(tx)}, ${d(ty)}, ${d(sx)}, ${d(sy)}, ${d(w)})"
      }
      .mkString("(VALUES ", ", ", ")")

  private def kernelOracle(k: ResampleOps.InterpKernel): String =
    s"""WITH g AS (SELECT user_id % 20 AS x, event_id % 25 AS y,
       |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v
       |  FROM events GROUP BY 1, 2),
       |k(ci, tx, ty, sx, sy, w) AS (${cornersSql(k)}),
       |j AS (SELECT k.ci, k.tx, k.ty, k.w, k.w * g.v AS wv
       |      FROM k JOIN g ON g.x = k.sx AND g.y = k.sy),
       |a AS (SELECT tx, ty,
       |    list_reduce(list(w ORDER BY ci), (x, y) -> x + y) AS sw,
       |    list_reduce(list(wv ORDER BY ci), (x, y) -> x + y) AS swv
       |  FROM j GROUP BY 1, 2)
       |SELECT tx AS x, ty AS y, swv / sw AS value FROM a""".stripMargin

  /** DuckDB oracles, one per query key. Table names are the bare parquet
    * names (the driver registers them as views over the same sf dir).
    */
  val oracles: Map[String, String] = Map(
    "stac_load" ->
      // arithmetic mirror of the surviving fixture items (0, 1) × bands ×
      // the 8×6 grid: x/y from the bbox with exact binary-fraction steps,
      // value = item·1000 + band·100 + row·10 + col (float32-exact)
      """WITH it AS (SELECT * FROM (VALUES
        |    (0, TIMESTAMP '2024-01-01 00:00:00'),
        |    (1, TIMESTAMP '2024-01-02 00:00:00')) t(item, ts)),
        |bd AS (SELECT * FROM (VALUES (0, 'b01'), (1, 'b02')) tb(bi, band))
        |SELECT CAST(10.0 + CAST(c AS DOUBLE) * 0.25 AS DOUBLE) AS x,
        |       CAST(40.0 + CAST(r AS DOUBLE) * 0.5 AS DOUBLE) AS y,
        |       it.ts AS t, bd.band AS bands,
        |       CAST(item * 1000 + bi * 100 + r * 10 + c AS DOUBLE) AS value
        |FROM it, bd, UNNEST(range(0, 6)) ur(r), UNNEST(range(0, 8)) uc(c)""".stripMargin,
    "stac_zarr" ->
      // arithmetic mirror of the six zarr stores: v2 rank-2 13×11 (value
      // 2000 + r·20 + c, the omitted bottom-right 5×4 chunk → fill −1 over
      // its in-bounds 3×3 corner), v2 rank-3 2×6×8 (bands zb_0/zb_1,
      // value b·1000 + r·10 + c), and V3 rank-2 5×6 (zarr.json,
      // gzip+crc32c, nested c/ keys; value 3000 + r·30 + c, omitted chunk
      // → fill −7 over r≥3 ∧ c≥4), v2 rank-2 38×30 blosc(lz4+shuffle)
      // (value 4000 + r·40 + c, fill −3 over r≥20 ∧ c≥16), and V3 rank-2
      // 6×7 zstd+crc32c (value 5000 + r·50 + c, fill −9 over r≥4 ∧ c≥4),
      // and v2 rank-2 23×19 blosc(blosclz+bit-shuffle) (value
      // 6000 + r·60 + c, fill −5 over r≥16 ∧ c≥12); grid steps exactly
      // 1.0 so x=c, y=r
      """SELECT CAST(c AS DOUBLE) AS x, CAST(r AS DOUBLE) AS y,
        |       TIMESTAMP '2024-03-01 00:00:00' AS t, 'za' AS bands,
        |       CAST(CASE WHEN r >= 10 AND c >= 8 THEN -1.0
        |                 ELSE 2000 + r*20 + c END AS DOUBLE) AS value
        |FROM UNNEST(range(0, 13)) ur(r), UNNEST(range(0, 11)) uc(c)
        |UNION ALL
        |SELECT CAST(c AS DOUBLE) AS x, CAST(r AS DOUBLE) AS y,
        |       TIMESTAMP '2024-03-02 00:00:00' AS t,
        |       'zb_' || CAST(b AS VARCHAR) AS bands,
        |       CAST(b*1000 + r*10 + c AS DOUBLE) AS value
        |FROM UNNEST(range(0, 2)) ub(b), UNNEST(range(0, 6)) ur(r),
        |     UNNEST(range(0, 8)) uc(c)
        |UNION ALL
        |SELECT CAST(c AS DOUBLE) AS x, CAST(r AS DOUBLE) AS y,
        |       TIMESTAMP '2024-03-03 00:00:00' AS t, 'zc' AS bands,
        |       CAST(CASE WHEN r >= 3 AND c >= 4 THEN -7.0
        |                 ELSE 3000 + r*30 + c END AS DOUBLE) AS value
        |FROM UNNEST(range(0, 5)) ur(r), UNNEST(range(0, 6)) uc(c)
        |UNION ALL
        |SELECT CAST(c AS DOUBLE) AS x, CAST(r AS DOUBLE) AS y,
        |       TIMESTAMP '2024-03-04 00:00:00' AS t, 'zd' AS bands,
        |       CAST(CASE WHEN r >= 20 AND c >= 16 THEN -3.0
        |                 ELSE 4000 + r*40 + c END AS DOUBLE) AS value
        |FROM UNNEST(range(0, 38)) ur(r), UNNEST(range(0, 30)) uc(c)
        |UNION ALL
        |SELECT CAST(c AS DOUBLE) AS x, CAST(r AS DOUBLE) AS y,
        |       TIMESTAMP '2024-03-05 00:00:00' AS t, 'ze' AS bands,
        |       CAST(CASE WHEN r >= 4 AND c >= 4 THEN -9.0
        |                 ELSE 5000 + r*50 + c END AS DOUBLE) AS value
        |FROM UNNEST(range(0, 6)) ur(r), UNNEST(range(0, 7)) uc(c)
        |UNION ALL
        |SELECT CAST(c AS DOUBLE) AS x, CAST(r AS DOUBLE) AS y,
        |       TIMESTAMP '2024-03-06 00:00:00' AS t, 'zf' AS bands,
        |       CAST(CASE WHEN r >= 16 AND c >= 12 THEN -5.0
        |                 ELSE 6000 + r*60 + c END AS DOUBLE) AS value
        |FROM UNNEST(range(0, 23)) ur(r), UNNEST(range(0, 19)) uc(c)""".stripMargin,
    "stac_pushdown" ->
      // the za store's arithmetic under the pushed extent: x ≤ 5 (cols
      // 0..5), y ≤ 7 (rows 0..7), t ∈ [2024-03-01, 2024-03-02) keeps
      // only the first store; the omitted-chunk fill corner (r≥10∧c≥8)
      // lies outside the extent
      """SELECT CAST(c AS DOUBLE) AS x, CAST(r AS DOUBLE) AS y,
        |       TIMESTAMP '2024-03-01 00:00:00' AS t, 'za' AS bands,
        |       CAST(2000 + r*20 + c AS DOUBLE) AS value
        |FROM UNNEST(range(0, 8)) ur(r), UNNEST(range(0, 6)) uc(c)""".stripMargin,
    "zarr_roundtrip" ->
      // the parquet truth the zarr write→read chain must reproduce
      """SELECT CAST(l_orderkey % 40 AS BIGINT) AS y,
        |       CAST(l_partkey % 25 AS BIGINT) AS x,
        |       CAST(sum(l_quantity) AS DOUBLE) AS value
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "zarr_v3_roundtrip" ->
      // same parquet truth through the v3 write→read chain
      """SELECT CAST(l_orderkey % 40 AS BIGINT) AS y,
        |       CAST(l_partkey % 25 AS BIGINT) AS x,
        |       CAST(sum(l_quantity) AS DOUBLE) AS value
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "zarr_blosc_roundtrip" ->
      // same parquet truth through the blosc(lz4+shuffle) write→read chain
      """SELECT CAST(l_orderkey % 40 AS BIGINT) AS y,
        |       CAST(l_partkey % 25 AS BIGINT) AS x,
        |       CAST(sum(l_quantity) AS DOUBLE) AS value
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "tiff_roundtrip" ->
      // same truth through the TIFF write→read chain
      """SELECT CAST(l_orderkey % 40 AS BIGINT) AS y,
        |       CAST(l_partkey % 25 AS BIGINT) AS x,
        |       CAST(sum(l_quantity) AS DOUBLE) AS value
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "filter_temporal" ->
      """SELECT event_type AS band, count(*) AS n,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY 1""".stripMargin,
    "filter_bands" ->
      """SELECT l_returnflag AS band, count(*) AS n,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem WHERE l_returnflag IN ('A','N') GROUP BY 1""".stripMargin,
    "filter_bbox" ->
      """SELECT l_linestatus AS band, count(*) AS n,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 3 AND 8
        |GROUP BY 1""".stripMargin,
    "filter_labels" ->
      """SELECT event_type AS band, count(*) AS n
        |FROM events WHERE user_id % 7 = 0 GROUP BY 1""".stripMargin,
    "scalar_constants" ->
      """SELECT round(exp(CAST(1 AS DOUBLE)), 10) AS e_v,
        |       round(pi(), 10) AS pi_v,
        |       CAST(42.5 AS DOUBLE) AS const_v,
        |       CAST(0 AS BIGINT) AS n_empty""".stripMargin,
    "apply_math" ->
      """SELECT l_returnflag AS band,
        |  CAST(sum(CAST(floor(sqrt(least(greatest(l_extendedprice,0),100000)/100000)*10000) AS BIGINT)) AS BIGINT) AS s_scaled,
        |  CAST(sum(CAST(floor((ln(l_extendedprice+1) + (l_extendedprice % 7)) * 1000) AS BIGINT)) AS BIGINT) AS s_lnmod
        |FROM lineitem GROUP BY 1""".stripMargin,
    "apply_trig" ->
      // DuckDB has no hyperbolic builtins — expressed via exp/ln identities;
      // the 1e6-floor quantization absorbs last-ulp libm differences.
      """WITH u AS (SELECT l_returnflag AS band, l_quantity/50.0 AS u FROM lineitem)
        |SELECT band,
        |  CAST(sum(floor(sin(u)*1000000)) AS BIGINT) AS s_sin,
        |  CAST(sum(floor(cos(u)*1000000)) AS BIGINT) AS s_cos,
        |  CAST(sum(floor(tan(u)*1000000)) AS BIGINT) AS s_tan,
        |  CAST(sum(floor(asin(u)*1000000)) AS BIGINT) AS s_asin,
        |  CAST(sum(floor(acos(u)*1000000)) AS BIGINT) AS s_acos,
        |  CAST(sum(floor(atan(u)*1000000)) AS BIGINT) AS s_atan,
        |  CAST(sum(floor((exp(u)-exp(-u))/2*1000000)) AS BIGINT) AS s_sinh,
        |  CAST(sum(floor((exp(u)+exp(-u))/2*1000000)) AS BIGINT) AS s_cosh,
        |  CAST(sum(floor((exp(2*u)-1)/(exp(2*u)+1)*1000000)) AS BIGINT) AS s_tanh,
        |  CAST(sum(floor(ln(u+sqrt(u*u+1))*1000000)) AS BIGINT) AS s_asinh,
        |  CAST(sum(floor(ln((1+u)+sqrt((1+u)*(1+u)-1))*1000000)) AS BIGINT) AS s_acosh,
        |  CAST(sum(floor(0.5*ln((1+0.99*u)/(1-0.99*u))*1000000)) AS BIGINT) AS s_atanh,
        |  count(*) AS n_nan
        |FROM u GROUP BY 1""".stripMargin,
    "reduce_mean" ->
      """SELECT event_type AS band,
        |       round(avg(CAST(round(value*100) AS BIGINT))/100.0, 6) AS avg_v
        |FROM events GROUP BY 1""".stripMargin,
    "reduce_stats" ->
      """SELECT l_returnflag AS band, count(l_quantity) AS n,
        |  min(l_quantity) AS min_q, max(l_quantity) AS max_q,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_q,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_q,
        |  round((sum(l_quantity*l_quantity) - sum(l_quantity)*sum(l_quantity)/count(*)) / (count(*)-1), 6) AS var_q,
        |  round(sqrt((sum(l_quantity*l_quantity) - sum(l_quantity)*sum(l_quantity)/count(*)) / (count(*)-1)), 6) AS sd_q
        |FROM lineitem GROUP BY 1""".stripMargin,
    "reduce_quantiles" ->
      """SELECT l_returnflag AS band,
        |  round(quantile_cont(l_quantity, 0.1), 6) AS q10,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS q25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS q50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS q75,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS q90
        |FROM lineitem GROUP BY 1""".stripMargin,
    "reduce_product" ->
      """SELECT l_orderkey, CAST(product(m) AS BIGINT) AS prod_scaled
        |FROM (SELECT l_orderkey, l_linenumber, 100 + round(min(l_tax)*100) AS m
        |      FROM lineitem GROUP BY 1, 2)
        |GROUP BY 1""".stripMargin,
    "scalar_predicates" ->
      """WITH e AS (SELECT event_type AS band,
        |    CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |p AS (SELECT band,
        |    abs(v - 100.0) <= 50.0 AS near100,
        |    v >= 10.0 AND v <= 50.0 AS btw,
        |    ((v > 100) OR (v > 200)) AND NOT ((v > 100) AND (v > 200)) AS x_or,
        |    CASE WHEN v > 150 THEN 1.0 ELSE 0.0 END AS iff,
        |    v IS NOT NULL AND NOT isnan(v) AS valid
        |  FROM e)
        |SELECT band,
        |  count(CASE WHEN near100 THEN 1 END) AS n_near100,
        |  count(CASE WHEN btw THEN 1 END) AS n_btw,
        |  count(CASE WHEN x_or THEN 1 END) AS n_xor,
        |  count(CASE WHEN near100 IS NULL THEN 1 END) AS n_null_pred,
        |  CAST(sum(iff) AS BIGINT) AS sum_if,
        |  count(CASE WHEN valid THEN 1 END) AS n_valid
        |FROM p GROUP BY 1""".stripMargin,
    "reduce_bool" ->
      """WITH f AS (SELECT l_returnflag AS band,
        |    CASE WHEN l_discount > 0.05 THEN NULL ELSE l_quantity > 25 END AS v
        |  FROM lineitem)
        |SELECT band,
        |  bool_or(v) AS any_v,
        |  bool_and(v) AS all_v,
        |  CASE WHEN count(CASE WHEN v IS NULL THEN 1 END) > 0
        |            AND NOT coalesce(bool_or(v), false)
        |       THEN NULL ELSE bool_or(v) END AS any_strict,
        |  CASE WHEN count(CASE WHEN v IS NULL THEN 1 END) > 0
        |            AND coalesce(bool_and(v), true)
        |       THEN NULL ELSE bool_and(v) END AS all_strict
        |FROM f GROUP BY 1""".stripMargin,
    "merge_cubes" ->
      """SELECT COALESCE(a.x, b.x) AS l_partkey,
        |       CAST(COALESCE(a.s, 0) + COALESCE(b.s, 0) AS BIGINT) AS total
        |FROM (SELECT l_partkey x, sum(l_quantity) s FROM lineitem
        |      WHERE l_shipdate < TIMESTAMP '1996-01-01' GROUP BY 1) a
        |FULL OUTER JOIN
        |     (SELECT l_partkey x, sum(l_quantity) s FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01' GROUP BY 1) b
        |ON a.x = b.x""".stripMargin,
    "mask" ->
      """SELECT l.l_returnflag AS band,
        |  count(CASE WHEN o.o_orderstatus = 'F' THEN NULL ELSE 1 END) AS n_valid,
        |  CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN NULL ELSE l.l_quantity END) AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,
    "aggregate_temporal_period" ->
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type AS band,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "climatology_normal" ->
      """SELECT month(ts) AS m, event_type AS band,
        |       round(avg(CAST(round(value*100) AS BIGINT)), 6) AS normal_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "climatology_anomaly" ->
      """WITH n AS (SELECT month(ts) AS m, event_type AS band,
        |             avg(CAST(round(value*100) AS BIGINT)) AS nv
        |           FROM events GROUP BY 1, 2)
        |SELECT epoch_us(e.ts) AS t_us, e.event_type AS band,
        |       round(CAST(round(e.value*100) AS BIGINT) - n.nv, 6) AS anom_cents
        |FROM events e JOIN n ON month(e.ts) = n.m AND e.event_type = n.band""".stripMargin,
    "aggregate_temporal" ->
      """WITH iv(s, e, lab) AS (VALUES
        |  (TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08', 'w1'),
        |  (TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-20', 'mid'),
        |  (TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-20', 'both'),
        |  (TIMESTAMP '2024-01-25', TIMESTAMP '2024-01-28', 'late'),
        |  (TIMESTAMP '2024-02-10', TIMESTAMP '2024-02-11', 'empty')),
        |agg AS (
        |  SELECT iv.lab, e.event_type AS band,
        |         CAST(sum(CAST(round(e.value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events e JOIN iv ON e.ts >= iv.s AND e.ts < iv.e
        |  GROUP BY 1, 2)
        |SELECT labs.lab AS t, agg.band, agg.sum_cents
        |FROM (VALUES ('w1'),('mid'),('both'),('late'),('empty')) labs(lab)
        |LEFT JOIN agg ON labs.lab = agg.lab""".stripMargin,
    "resample_cube_temporal" ->
      // nearest is chosen over the GLOBAL distinct label set (the reference
      // reindexes coordinates), then each series reads its cell at the
      // chosen label — null where that series has no cell there
      """WITH tgt(g) AS (VALUES (TIMESTAMP '2024-01-05'),
        |                       (TIMESTAMP '2024-01-15'),
        |                       (TIMESTAMP '2024-01-25')),
        |lab AS (SELECT DISTINCT ts FROM events),
        |m AS (SELECT g, ts,
        |        row_number() OVER (PARTITION BY g
        |          ORDER BY abs(epoch_us(ts) - epoch_us(g)), ts) AS rn
        |      FROM lab CROSS JOIN tgt),
        |sel AS (SELECT g, ts FROM m WHERE rn = 1),
        |series AS (SELECT DISTINCT event_type AS band FROM events)
        |SELECT s.band, CAST(sel.g AS DATE) AS t, e.value
        |FROM series s CROSS JOIN sel
        |LEFT JOIN events e ON e.event_type = s.band AND e.ts = sel.ts""".stripMargin,
    "resample_cube_temporal_tolerance" ->
      // same nearest-label selection, but a chosen label farther than the
      // 2-day tolerance nulls the value while keeping the row
      """WITH tgt(g) AS (VALUES (TIMESTAMP '2024-01-10'),
        |                       (TIMESTAMP '2024-01-31'),
        |                       (TIMESTAMP '2024-02-15')),
        |lab AS (SELECT DISTINCT ts FROM events),
        |m AS (SELECT g, ts, abs(epoch_us(ts) - epoch_us(g)) AS dist,
        |        row_number() OVER (PARTITION BY g
        |          ORDER BY abs(epoch_us(ts) - epoch_us(g)), ts) AS rn
        |      FROM lab CROSS JOIN tgt),
        |sel AS (SELECT g, ts, dist FROM m WHERE rn = 1),
        |series AS (SELECT DISTINCT event_type AS band FROM events)
        |SELECT s.band, CAST(sel.g AS DATE) AS t,
        |       CASE WHEN sel.dist > 2.0 * 86400 * 1000000 THEN NULL
        |            ELSE e.value END AS value
        |FROM series s CROSS JOIN sel
        |LEFT JOIN events e ON e.event_type = s.band AND e.ts = sel.ts""".stripMargin,
    "dim_utils" ->
      """SELECT CASE event_type WHEN 'click' THEN 'tap'
        |            WHEN 'view' THEN 'impression' ELSE event_type END AS band,
        |       'm1' AS model, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "trim_cube" ->
      """SELECT CAST(l_linenumber AS BIGINT) AS x, count(*) AS n,
        |       count(CASE WHEN l_quantity < 3 THEN 1 END) AS nv
        |FROM lineitem GROUP BY 1
        |HAVING count(CASE WHEN l_quantity < 3 THEN 1 END) > 0""".stripMargin,
    "flatten_dims" ->
      """SELECT CAST(l_shipdate AS VARCHAR) || '~' || l_returnflag AS tb,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "unflatten_dims" ->
      """SELECT CAST(l_shipdate AS VARCHAR) AS t2, l_returnflag AS band2,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "aggregate_spatial_window" ->
      // the same pixel-window construction in SQL: per-axis dense index
      // over the sorted distinct labels, window id = index // size,
      // window label = min(label), trim = only complete windows
      """WITH xi AS (SELECT x, (row_number() OVER (ORDER BY x) - 1) // 4 AS w
        |  FROM (SELECT DISTINCT l_partkey AS x FROM lineitem)),
        |xg AS (SELECT w, min(x) AS xlbl, count(*) = 4 AS xfull
        |  FROM xi GROUP BY 1),
        |xm AS (SELECT xi.x, xg.xlbl, xg.xfull FROM xi JOIN xg USING (w)),
        |yi AS (SELECT y, (row_number() OVER (ORDER BY y) - 1) // 3 AS w
        |  FROM (SELECT DISTINCT l_suppkey AS y FROM lineitem)),
        |yg AS (SELECT w, min(y) AS ylbl, count(*) = 3 AS yfull
        |  FROM yi GROUP BY 1),
        |ym AS (SELECT yi.y, yg.ylbl, yg.yfull FROM yi JOIN yg USING (w))
        |SELECT CAST(xm.xlbl AS BIGINT) AS x, CAST(ym.ylbl AS BIGINT) AS y,
        |       CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem l
        |JOIN xm ON l.l_partkey = xm.x
        |JOIN ym ON l.l_suppkey = ym.y
        |WHERE xm.xfull AND ym.yfull
        |GROUP BY 1, 2""".stripMargin,
    "resample_spatial_agg" ->
      """SELECT CAST(floor(l_partkey/50)*50 AS BIGINT) AS x,
        |       CAST(floor(l_suppkey/4)*4 AS BIGINT) AS y,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "resample_mode" ->
      """WITH g AS (SELECT CAST(floor(l_partkey/50)*50 AS BIGINT) AS x,
        |    CAST(floor(l_suppkey/4)*4 AS BIGINT) AS y, l_quantity AS v
        |  FROM lineitem),
        |c AS (SELECT x, y, v, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |r AS (SELECT x, y, v,
        |    row_number() OVER (PARTITION BY x, y ORDER BY cnt DESC, v ASC) AS rn
        |  FROM c)
        |SELECT x, y, v AS mode_qty FROM r WHERE rn = 1""".stripMargin,
    "resample_cubic" -> kernelOracle(ResampleOps.CubicKernel),
    "resample_lanczos" -> kernelOracle(ResampleOps.LanczosKernel),
    "resample_cubicspline" -> kernelOracle(ResampleOps.CubicSplineKernel),
    "resample_near" ->
      """WITH g AS (SELECT floor(l_partkey/50)*50 AS bx, floor(l_suppkey/4)*4 AS by,
        |    l_partkey AS sx, l_suppkey AS sy, l_quantity AS v FROM lineitem),
        |r AS (SELECT bx, by, v, row_number() OVER (PARTITION BY bx, by
        |    ORDER BY (sx-(bx+25.0))*(sx-(bx+25.0)) + (sy-(by+2.0))*(sy-(by+2.0)),
        |             sx, sy, v) AS rn
        |  FROM g)
        |SELECT CAST(bx AS BIGINT) AS x, CAST(by AS BIGINT) AS y,
        |       round(v, 6) AS near_v
        |FROM r WHERE rn = 1""".stripMargin,
    "resample_quartiles" ->
      """SELECT CAST(floor(l_partkey/50)*50 AS BIGINT) AS x,
        |       CAST(floor(l_suppkey/4)*4 AS BIGINT) AS y,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS q1,
        |       round(quantile_cont(l_quantity, 0.75), 6) AS q3
        |FROM lineitem GROUP BY 1, 2""".stripMargin
  )
}
