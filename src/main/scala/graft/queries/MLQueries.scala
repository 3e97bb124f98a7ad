package graft.queries

import graft.operators.MLOps
import graft.sources.Tables
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{multiBatch, singleFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML + streaming queries. `ml_random_forest` is checked against a FROZEN
  * prediction oracle (MLlib tree ensembles aren't DuckDB-expressible, but the
  * seeded, partition-pinned model is bit-reproducible — see
  * tools/freeze_rf_oracle.py). `streaming_window` runs a real Structured
  * Streaming query to completion and is oracle-checked against the batch
  * equivalent; `run_udf` exercises the subprocess-pipe UDF bridge.
  */
object MLQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "ml_random_forest" -> { (s, dir) => rfQuery(s, dir, roundTrip = false) },
    // save_ml_model → load_ml_model through MLlib's parquet model format
    // (+ the feature-order sidecar) must change NOTHING: the reloaded
    // model's predictions hash against the SAME frozen oracle
    "ml_model_roundtrip" -> { (s, dir) => rfQuery(s, dir, roundTrip = true) },
    // classification twin (openEO fit_class_random_forest proposal):
    // 3-class returnflag target, same pinned-training reproducibility
    // contract, frozen dual-SF oracle; the model round-trips save → load
    // before predicting so classifier persistence is gate-checked too
    "ml_class_forest" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").cast("double").as("f_part"),
          col("l_suppkey").cast("double").as("f_supp"),
          col("l_discount").as("f_disc"),
          col("l_extendedprice").as("f_price"),
          when(col("l_returnflag") === "R", 0L)
            .when(col("l_returnflag") === "A", 1L)
            .otherwise(2L).as("cls"))
      val train = li
        .filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .repartition(4, col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      val feats = Seq("f_part", "f_supp", "f_disc", "f_price")
      val fitted = MLOps.fitClassRandomForest(train, feats, "cls",
        numTrees = 10, maxDepth = 5)
      val (model, mfeats) = saveLoadRoundtrip(fitted, feats, "graft_rfc_model")
      val head = li.orderBy(col("l_orderkey"), col("l_linenumber")).limit(200)
      MLOps.predictForest(model, head, mfeats)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("prediction").cast("bigint").as("pred_class"))
    },
    "streaming_window" -> singleFile(StreamingOps.WindowAgg),
    // Batch/stream parity: the flatMapGroupsWithState sessionizer driven to
    // completion over the same parquet must reproduce the batch `sessionize`
    // query exactly — it shares that query's DuckDB oracle.
    "sessionize_stream" -> singleFile(StreamingOps.Sessionize),
    // Streaming exact dedup crossed under the oracle: exactly one survivor
    // per (user_id, event_type) key must emerge from
    // dropDuplicatesWithinWatermark — the key set is deterministic even
    // though the surviving physical row is not.
    "dedup_stream" -> singleFile(StreamingOps.Dedup),
    // MULTI-BATCH stateful evidence (r11): the same two operators driven
    // over 3 time-ordered shards, one micro-batch each — per-user/per-key
    // state crosses real batch boundaries, with the watermark delay sized
    // past the data span so no state expires mid-run and the fold stays
    // exact. Shares the single-batch rows' oracles: parity must hold in
    // both regimes.
    "sessionize_stream_multibatch" -> multiBatch(StreamingOps.Sessionize),
    "dedup_stream_multibatch" -> multiBatch(StreamingOps.Dedup),
    // SpaceSaving heavy hitters on the stream: the sketch buffer IS the
    // streaming state (O(capacity), key-space independent); in the
    // no-eviction regime the terminal snapshot equals the batch groupBy
    // top-k, which is the shared oracle. Single- and multi-batch runs
    // must agree — the sketch is a pure merge across triggers.
    "heavy_hitters_stream" -> singleFile(StreamingOps.HeavyHitters),
    "heavy_hitters_stream_multibatch" -> multiBatch(StreamingOps.HeavyHitters),
    // weighted-quantile sketch on the stream: the sketch buffer IS the
    // streaming state (O(capacity), row-count independent); values
    // quantize to deci-units so the distinct count is domain-bounded and
    // the no-compression regime makes the terminal snapshot equal the
    // exact batch quantiles, which is the shared oracle. Single- and
    // multi-batch runs must agree — the sketch is a pure merge.
    "quantiles_stream" -> singleFile(StreamingOps.Quantiles),
    "quantiles_stream_multibatch" -> multiBatch(StreamingOps.Quantiles),
    // bounded-heap top-k per key on the stream: O(k) state per key vs
    // retaining every row; exact at ANY batching (total order, pure
    // merge) — no regime caveat, shares the batch window oracle
    "topk_stream" -> singleFile(StreamingOps.TopK),
    "topk_stream_multibatch" -> multiBatch(StreamingOps.TopK),
    // CDC upsert view on the stream: latest change per (user_id,
    // event_type) held as max_by state — O(keys) state on an unbounded
    // change log, exact at ANY batching ((ts, event_id) is a total
    // order, pure merge); shares the batch cdc_latest oracle
    "cdc_latest_stream" -> singleFile(StreamingOps.CdcLatest),
    "cdc_latest_stream_multibatch" -> multiBatch(StreamingOps.CdcLatest),
    // event-time-bounded STREAM-STREAM join (view → clicks within 60
    // min, same user): both sides buffered in the join state store, the
    // time bound + watermark making that state evictable on a live feed.
    // The emitted pair set equals the batch inequality join whenever no
    // state is evicted before its partner arrives — the 40-day delay
    // covers the table span, so both runs share the plain-SQL oracle.
    // The multibatch run is the real evidence: view and click routinely
    // arrive in DIFFERENT micro-batches, so every pair crosses state.
    "stream_join_attrib" -> singleFile(StreamingOps.Attribution),
    "stream_join_attrib_multibatch" -> multiBatch(StreamingOps.Attribution),
    // STREAM-STATIC enrichment: the event stream broadcast-joined to the
    // customer → nation dimension chain per micro-batch (stateless join,
    // dimensions never buffered) with a stateful per-(nation, type)
    // aggregate on top — exact at any batching, shared batch oracle
    "stream_enrich" -> singleFile(StreamingOps.Enrich),
    "stream_enrich_multibatch" -> multiBatch(StreamingOps.Enrich),
    // streaming climatological anomaly: STATIC normals (batch-computed
    // baseline) broadcast onto the live stream — stateless, exactly-once
    // per event at any batching, shared batch oracle
    "anomaly_stream" -> singleFile(StreamingOps.Anomaly),
    "anomaly_stream_multibatch" -> multiBatch(StreamingOps.Anomaly),
    // KMV/theta distinct-count sketch on the stream: O(k) state vs a
    // key-space-sized dedup store; exact in the no-truncation regime
    // (distinct users ≪ k at every gate SF), which the oracle pins
    "distinct_users_stream" -> singleFile(StreamingOps.DistinctUsers),
    "distinct_users_stream_multibatch" -> multiBatch(StreamingOps.DistinctUsers),

    // run_udf: user Python source executed against the cube through the
    // subprocess-pipe bridge (UdfOps) — truncation to cents happens INSIDE
    // the UDF, the engine only aggregates the returned cells.
    "run_udf" -> { (s, dir) =>
      // rebalance: the per-row subprocess-pipe UDF is the heavy stage
      // (measured −0.69 s interleaved A/B, r19)
      val c = Tables.eventsCube(s, dir, rebalance = true)
      val out = graft.operators.UdfOps.runUdf(c,
        "def udf(row):\n    return float(int(row['value'] * 100))")
      out.df.groupBy(col("band")).agg(count(lit(1)).as("n"),
        sum(col("value")).cast("bigint").as("sum_cents"))
    },

    // OpenEO JSON process graph compiled end-to-end (SURVEY §3.4): the
    // reference's canonical load → filter → apply(callback) →
    // reduce_dimension(reducer) slice, arriving as wire-format JSON.
    "process_graph" -> { (s, dir) =>
      val graph =
        """{"process_graph": {
          |  "load": {"process_id": "load_collection",
          |           "arguments": {"id": "events"}},
          |  "filt": {"process_id": "filter_temporal",
          |           "arguments": {"data": {"from_node": "load"},
          |                         "extent": ["2024-01-05", "2024-01-25"]}},
          |  "sc":   {"process_id": "apply",
          |           "arguments": {"data": {"from_node": "filt"},
          |             "process": {"process_graph": {
          |               "m": {"process_id": "multiply",
          |                     "arguments": {"x": {"from_parameter": "x"}, "y": 100}},
          |               "f": {"process_id": "floor",
          |                     "arguments": {"x": {"from_node": "m"}},
          |                     "result": true}}}}},
          |  "red":  {"process_id": "reduce_dimension",
          |           "arguments": {"data": {"from_node": "sc"}, "dimension": "t",
          |             "reducer": {"process_graph": {
          |               "m1": {"process_id": "mean",
          |                      "arguments": {"data": {"from_parameter": "data"}},
          |                      "result": true}}}},
          |           "result": true}
          |}}""".stripMargin
      val out = graft.plans.ProcessGraph.execute(s, graph,
        { case "events" => Tables.eventsCube(s, dir)
          case c => throw new IllegalArgumentException(s"unknown collection $c") })
      out.df.select(col("band"), col("value").as("avg_cents"))
    },

    // ORDERED reducer through the graph path: reduce_dimension(reducer=last)
    // — the registry injects the reduced dim as the reducer's order context,
    // so `last` aggregates by time order (max_by), not array position.
    // (event_type, ts) is unique in the table, so the pick is deterministic.
    "graph_reduce_last" -> { (s, dir) =>
      val graph =
        """{"process_graph": {
          |  "load": {"process_id": "load_collection",
          |           "arguments": {"id": "events"}},
          |  "red":  {"process_id": "reduce_dimension",
          |           "arguments": {"data": {"from_node": "load"}, "dimension": "t",
          |             "reducer": {"process_graph": {
          |               "l1": {"process_id": "last",
          |                      "arguments": {"data": {"from_parameter": "data"}},
          |                      "result": true}}}},
          |           "result": true}
          |}}""".stripMargin
      val out = graft.plans.ProcessGraph.execute(s, graph,
        { case "events" => Tables.eventsCube(s, dir)
          case c => throw new IllegalArgumentException(s"unknown collection $c") })
      out.df.select(col("band"), col("value").as("last_v"))
    }
  )

  // the reloaded model must predict IDENTICALLY — one frozen oracle,
  // two queries
  lazy val oracles: Map[String, String] =
    oracles0 + ("ml_model_roundtrip" -> oracles0("ml_random_forest"))

  private val oracles0: Map[String, String] = Map(
    // ml_random_forest: FROZEN oracle — the seeded, partition-pinned model's
    // predictions, frozen at BOTH gate scales and dispatched by lineitem's
    // row count (sf0.01 = 60k rows for the driver gate, sf0.1 = 600k for
    // the 10x self-gate; other SFs have different data and mismatch by
    // construction). Regenerate via tools/freeze_rf_oracle.py (once per
    // SF) when the model config changes. MLlib trees aren't
    // SQL-expressible, but the frozen VALUES make the query hash-checkable
    // instead of rows-only; the sf0.1 freeze was reproduced bit-identically
    // under concurrent load before pasting (partition-pinning works).
    "ml_random_forest" ->
      """WITH n AS (SELECT count(*) AS c FROM lineitem),
        |v001(k, ln, p) AS (VALUES (0, 1, '22.8322'::DOUBLE), (0, 2, '25.0253'::DOUBLE), (0, 4, '26.1163'::DOUBLE), (1, 3, '26.3265'::DOUBLE), (1, 7, '25.1268'::DOUBLE), (1, 7, '25.7087'::DOUBLE), (2, 2, '24.478'::DOUBLE), (2, 4, '25.9809'::DOUBLE), (2, 6, '24.9028'::DOUBLE), (2, 6, '25.0446'::DOUBLE), (2, 7, '22.9858'::DOUBLE), (3, 2, '26.2618'::DOUBLE), (3, 4, '25.3315'::DOUBLE), (3, 6, '25.127'::DOUBLE), (3, 7, '25.5974'::DOUBLE), (4, 2, '25.6342'::DOUBLE), (4, 4, '25.3837'::DOUBLE), (4, 5, '24.6474'::DOUBLE), (4, 6, '26.06'::DOUBLE), (4, 6, '25.6256'::DOUBLE), (5, 2, '26.3714'::DOUBLE), (5, 2, '25.7763'::DOUBLE), (5, 3, '24.7806'::DOUBLE), (5, 5, '24.1787'::DOUBLE), (6, 5, '24.0433'::DOUBLE), (6, 5, '24.9008'::DOUBLE), (6, 6, '24.7833'::DOUBLE), (6, 6, '24.63'::DOUBLE), (7, 1, '25.7142'::DOUBLE), (7, 2, '25.8156'::DOUBLE), (7, 3, '25.7163'::DOUBLE), (7, 4, '25.9781'::DOUBLE), (7, 4, '25.5622'::DOUBLE), (8, 2, '24.8124'::DOUBLE), (8, 4, '24.9688'::DOUBLE), (8, 6, '24.89'::DOUBLE), (9, 2, '25.1111'::DOUBLE), (9, 3, '23.6065'::DOUBLE), (9, 4, '26.4805'::DOUBLE), (9, 5, '24.5838'::DOUBLE), (10, 1, '25.8881'::DOUBLE), (10, 4, '25.2597'::DOUBLE), (11, 2, '25.4726'::DOUBLE), (11, 2, '23.197'::DOUBLE), (11, 4, '23.8384'::DOUBLE), (12, 5, '25.1128'::DOUBLE), (12, 7, '25.6039'::DOUBLE), (13, 2, '25.062'::DOUBLE), (13, 5, '24.6126'::DOUBLE), (13, 7, '25.2346'::DOUBLE), (14, 3, '25.9152'::DOUBLE), (14, 3, '25.6331'::DOUBLE), (14, 5, '25.5628'::DOUBLE), (14, 6, '25.8679'::DOUBLE), (15, 3, '25.4251'::DOUBLE), (15, 5, '24.7732'::DOUBLE), (15, 6, '26.16'::DOUBLE), (16, 5, '24.6463'::DOUBLE), (17, 1, '26.0134'::DOUBLE), (17, 5, '25.1551'::DOUBLE), (17, 5, '25.5843'::DOUBLE), (17, 7, '27.5641'::DOUBLE), (18, 1, '23.3994'::DOUBLE), (18, 3, '25.2568'::DOUBLE), (18, 7, '25.4334'::DOUBLE), (19, 1, '25.0257'::DOUBLE), (19, 1, '25.5628'::DOUBLE), (19, 2, '26.095'::DOUBLE), (19, 2, '25.2422'::DOUBLE), (19, 3, '25.1426'::DOUBLE), (19, 4, '24.2519'::DOUBLE), (20, 1, '25.4391'::DOUBLE), (20, 2, '24.0398'::DOUBLE), (20, 2, '25.7875'::DOUBLE), (20, 4, '27.8653'::DOUBLE), (20, 6, '25.4694'::DOUBLE), (20, 7, '23.2185'::DOUBLE), (21, 3, '27.2048'::DOUBLE), (21, 3, '24.7634'::DOUBLE), (21, 3, '23.8664'::DOUBLE), (21, 4, '26.1797'::DOUBLE), (21, 7, '25.1321'::DOUBLE), (22, 3, '24.7648'::DOUBLE), (22, 5, '24.5619'::DOUBLE), (22, 5, '26.1769'::DOUBLE), (22, 6, '24.3151'::DOUBLE), (23, 2, '27.0382'::DOUBLE), (23, 7, '25.8462'::DOUBLE), (24, 1, '23.9767'::DOUBLE), (24, 1, '24.3825'::DOUBLE), (25, 4, '26.2155'::DOUBLE), (25, 7, '24.1565'::DOUBLE), (26, 1, '25.8324'::DOUBLE), (26, 3, '25.6714'::DOUBLE), (26, 4, '25.1413'::DOUBLE), (26, 6, '24.8772'::DOUBLE), (26, 6, '25.333'::DOUBLE), (27, 1, '24.8334'::DOUBLE), (27, 3, '26.0134'::DOUBLE), (27, 7, '24.2903'::DOUBLE), (27, 7, '24.6463'::DOUBLE), (28, 1, '26.0339'::DOUBLE), (28, 6, '25.4972'::DOUBLE), (29, 1, '26.5736'::DOUBLE), (29, 2, '24.9446'::DOUBLE), (29, 4, '24.5947'::DOUBLE), (29, 5, '23.3497'::DOUBLE), (29, 5, '25.0472'::DOUBLE), (29, 7, '22.5549'::DOUBLE), (30, 3, '23.9958'::DOUBLE), (30, 5, '26.6626'::DOUBLE), (30, 7, '25.8156'::DOUBLE), (31, 4, '24.8362'::DOUBLE), (31, 5, '24.3886'::DOUBLE), (32, 4, '25.117'::DOUBLE), (33, 5, '24.7552'::DOUBLE), (34, 1, '24.3121'::DOUBLE), (34, 2, '23.2008'::DOUBLE), (34, 2, '23.714'::DOUBLE), (34, 3, '27.3341'::DOUBLE), (34, 6, '25.1116'::DOUBLE), (35, 1, '25.1222'::DOUBLE), (35, 6, '25.9291'::DOUBLE), (35, 7, '24.6732'::DOUBLE), (36, 1, '26.2833'::DOUBLE), (36, 1, '26.0124'::DOUBLE), (36, 5, '25.3801'::DOUBLE), (36, 7, '23.1266'::DOUBLE), (37, 3, '24.5944'::DOUBLE), (37, 3, '25.5104'::DOUBLE), (37, 6, '26.1433'::DOUBLE), (38, 2, '26.4729'::DOUBLE), (38, 2, '25.8067'::DOUBLE), (38, 7, '24.3691'::DOUBLE), (39, 7, '27.948'::DOUBLE), (41, 2, '28.0306'::DOUBLE), (41, 2, '26.2833'::DOUBLE), (41, 5, '26.3978'::DOUBLE), (41, 5, '26.3485'::DOUBLE), (41, 7, '23.9245'::DOUBLE), (41, 7, '25.8762'::DOUBLE), (42, 1, '25.6974'::DOUBLE), (42, 2, '25.8675'::DOUBLE), (42, 4, '24.771'::DOUBLE), (42, 4, '24.7071'::DOUBLE), (42, 5, '25.7398'::DOUBLE), (42, 7, '25.9333'::DOUBLE), (43, 1, '24.526'::DOUBLE), (43, 1, '26.2386'::DOUBLE), (43, 2, '25.5995'::DOUBLE), (43, 5, '25.7562'::DOUBLE), (43, 6, '25.4769'::DOUBLE), (44, 3, '24.6103'::DOUBLE), (44, 5, '23.4019'::DOUBLE), (44, 5, '23.6301'::DOUBLE), (45, 4, '24.2378'::DOUBLE), (45, 6, '25.5538'::DOUBLE), (45, 6, '22.8935'::DOUBLE), (45, 7, '26.2486'::DOUBLE), (45, 7, '27.8653'::DOUBLE), (46, 2, '26.477'::DOUBLE), (46, 3, '26.1243'::DOUBLE), (46, 4, '27.9337'::DOUBLE), (46, 4, '25.2065'::DOUBLE), (46, 5, '24.8433'::DOUBLE), (47, 2, '25.3176'::DOUBLE), (47, 3, '26.9213'::DOUBLE), (47, 3, '26.0492'::DOUBLE), (47, 3, '25.0038'::DOUBLE), (47, 5, '25.3597'::DOUBLE), (47, 6, '24.6972'::DOUBLE), (48, 4, '26.877'::DOUBLE), (48, 4, '24.7141'::DOUBLE), (48, 5, '29.317'::DOUBLE), (48, 7, '25.2513'::DOUBLE), (49, 4, '23.1584'::DOUBLE), (50, 3, '23.8108'::DOUBLE), (50, 3, '24.8241'::DOUBLE), (50, 4, '24.2006'::DOUBLE), (50, 6, '23.0197'::DOUBLE), (50, 6, '24.023'::DOUBLE), (50, 7, '24.6437'::DOUBLE), (51, 3, '25.0703'::DOUBLE), (51, 4, '26.0786'::DOUBLE), (51, 6, '24.3999'::DOUBLE), (51, 7, '25.4297'::DOUBLE), (51, 7, '24.2183'::DOUBLE), (52, 1, '25.0341'::DOUBLE), (52, 2, '24.129'::DOUBLE), (52, 6, '25.2568'::DOUBLE), (53, 2, '25.3375'::DOUBLE), (53, 4, '25.5962'::DOUBLE), (53, 7, '24.2125'::DOUBLE), (53, 7, '23.9686'::DOUBLE), (54, 2, '23.3819'::DOUBLE), (54, 2, '25.1882'::DOUBLE), (54, 5, '22.0117'::DOUBLE), (55, 2, '26.0534'::DOUBLE), (55, 3, '25.3152'::DOUBLE), (55, 4, '24.2085'::DOUBLE)),
        |v01(k, ln, p) AS (VALUES (0, 3, '25.572'::DOUBLE), (0, 4, '25.4455'::DOUBLE), (0, 5, '25.3903'::DOUBLE), (0, 5, '25.6427'::DOUBLE), (0, 7, '25.26'::DOUBLE), (0, 7, '25.468'::DOUBLE), (1, 3, '25.3171'::DOUBLE), (1, 4, '25.6545'::DOUBLE), (1, 4, '25.1741'::DOUBLE), (1, 4, '25.5189'::DOUBLE), (1, 4, '25.4266'::DOUBLE), (1, 5, '25.4793'::DOUBLE), (2, 1, '25.7222'::DOUBLE), (2, 3, '25.3487'::DOUBLE), (2, 5, '25.6706'::DOUBLE), (2, 5, '24.6199'::DOUBLE), (3, 2, '25.6583'::DOUBLE), (3, 2, '25.6166'::DOUBLE), (3, 3, '25.3748'::DOUBLE), (3, 4, '25.0687'::DOUBLE), (3, 5, '25.8076'::DOUBLE), (4, 5, '25.5986'::DOUBLE), (4, 7, '25.3809'::DOUBLE), (5, 3, '25.9299'::DOUBLE), (5, 4, '25.4913'::DOUBLE), (5, 4, '25.4435'::DOUBLE), (5, 4, '25.3576'::DOUBLE), (5, 6, '26.6214'::DOUBLE), (6, 1, '26.0828'::DOUBLE), (6, 3, '25.5995'::DOUBLE), (6, 4, '25.8011'::DOUBLE), (6, 6, '25.934'::DOUBLE), (6, 7, '25.3498'::DOUBLE), (7, 3, '25.5364'::DOUBLE), (7, 5, '25.5706'::DOUBLE), (7, 6, '26.1434'::DOUBLE), (8, 1, '25.4945'::DOUBLE), (8, 2, '25.6311'::DOUBLE), (8, 2, '25.569'::DOUBLE), (8, 4, '25.359'::DOUBLE), (8, 7, '24.7714'::DOUBLE), (8, 7, '25.4719'::DOUBLE), (9, 2, '25.4136'::DOUBLE), (9, 5, '25.301'::DOUBLE), (10, 6, '25.3635'::DOUBLE), (10, 6, '26.0149'::DOUBLE), (11, 1, '25.9724'::DOUBLE), (11, 2, '25.7298'::DOUBLE), (11, 7, '25.8145'::DOUBLE), (12, 2, '24.7523'::DOUBLE), (12, 3, '25.8288'::DOUBLE), (12, 5, '25.9491'::DOUBLE), (12, 7, '25.4087'::DOUBLE), (13, 3, '25.6708'::DOUBLE), (13, 4, '25.4099'::DOUBLE), (13, 6, '25.3179'::DOUBLE), (13, 6, '24.9913'::DOUBLE), (13, 7, '25.4743'::DOUBLE), (14, 3, '25.8697'::DOUBLE), (14, 5, '25.5328'::DOUBLE), (14, 6, '25.7985'::DOUBLE), (15, 2, '24.84'::DOUBLE), (15, 3, '25.6378'::DOUBLE), (15, 4, '25.6937'::DOUBLE), (15, 7, '25.528'::DOUBLE), (16, 3, '25.6691'::DOUBLE), (16, 3, '26.0365'::DOUBLE), (18, 5, '25.3644'::DOUBLE), (19, 1, '25.8877'::DOUBLE), (19, 1, '24.5474'::DOUBLE), (19, 6, '25.6882'::DOUBLE), (19, 6, '25.2039'::DOUBLE), (20, 2, '24.9565'::DOUBLE), (20, 2, '25.5643'::DOUBLE), (21, 4, '25.5745'::DOUBLE), (22, 2, '25.9634'::DOUBLE), (22, 6, '25.8308'::DOUBLE), (22, 7, '25.5826'::DOUBLE), (23, 5, '25.6604'::DOUBLE), (24, 1, '26.003'::DOUBLE), (24, 5, '25.5403'::DOUBLE), (24, 6, '25.8412'::DOUBLE), (25, 3, '25.9872'::DOUBLE), (25, 4, '25.6616'::DOUBLE), (25, 6, '25.2259'::DOUBLE), (25, 6, '26.0445'::DOUBLE), (25, 6, '26.149'::DOUBLE), (25, 7, '25.5046'::DOUBLE), (25, 7, '25.5144'::DOUBLE), (26, 1, '25.4674'::DOUBLE), (26, 3, '25.7'::DOUBLE), (26, 4, '25.5403'::DOUBLE), (26, 6, '25.5587'::DOUBLE), (27, 3, '25.2917'::DOUBLE), (27, 4, '25.759'::DOUBLE), (27, 6, '25.8556'::DOUBLE), (27, 7, '25.4841'::DOUBLE), (27, 7, '25.412'::DOUBLE), (28, 3, '25.4381'::DOUBLE), (28, 4, '25.5219'::DOUBLE), (28, 4, '25.6597'::DOUBLE), (29, 1, '26.003'::DOUBLE), (29, 6, '25.355'::DOUBLE), (30, 1, '25.3538'::DOUBLE), (30, 1, '25.6413'::DOUBLE), (30, 1, '25.4267'::DOUBLE), (30, 2, '25.507'::DOUBLE), (30, 3, '25.78'::DOUBLE), (30, 4, '25.6694'::DOUBLE), (30, 4, '25.2612'::DOUBLE), (30, 6, '25.49'::DOUBLE), (31, 1, '25.5229'::DOUBLE), (31, 1, '25.8895'::DOUBLE), (31, 4, '25.6559'::DOUBLE), (31, 4, '25.5601'::DOUBLE), (32, 5, '25.1707'::DOUBLE), (32, 6, '25.4432'::DOUBLE), (32, 6, '25.5169'::DOUBLE), (33, 1, '25.6536'::DOUBLE), (33, 2, '25.9135'::DOUBLE), (33, 3, '25.7675'::DOUBLE), (33, 4, '25.797'::DOUBLE), (33, 5, '25.1105'::DOUBLE), (33, 6, '25.8795'::DOUBLE), (34, 1, '25.0457'::DOUBLE), (34, 2, '25.3297'::DOUBLE), (34, 2, '26.7328'::DOUBLE), (34, 3, '25.1852'::DOUBLE), (34, 4, '26.1496'::DOUBLE), (34, 4, '25.2158'::DOUBLE), (34, 5, '25.9696'::DOUBLE), (34, 7, '25.5393'::DOUBLE), (35, 1, '25.2121'::DOUBLE), (36, 3, '25.8673'::DOUBLE), (36, 5, '26.0038'::DOUBLE), (37, 4, '25.3297'::DOUBLE), (37, 5, '25.8466'::DOUBLE), (37, 5, '24.3715'::DOUBLE), (37, 7, '25.4132'::DOUBLE), (38, 1, '25.4726'::DOUBLE), (38, 1, '26.0334'::DOUBLE), (38, 3, '25.7018'::DOUBLE), (38, 4, '25.5128'::DOUBLE), (38, 7, '25.5463'::DOUBLE), (39, 1, '25.8855'::DOUBLE), (39, 1, '25.5357'::DOUBLE), (39, 2, '25.4393'::DOUBLE), (39, 4, '25.4788'::DOUBLE), (39, 4, '25.6473'::DOUBLE), (39, 4, '25.3444'::DOUBLE), (39, 5, '25.7364'::DOUBLE), (39, 7, '24.9456'::DOUBLE), (40, 2, '25.5571'::DOUBLE), (40, 4, '25.7321'::DOUBLE), (40, 5, '25.7037'::DOUBLE), (41, 7, '25.6766'::DOUBLE), (42, 1, '25.6427'::DOUBLE), (42, 3, '25.5136'::DOUBLE), (42, 5, '25.8908'::DOUBLE), (42, 7, '24.2205'::DOUBLE), (43, 1, '25.3806'::DOUBLE), (43, 5, '25.2089'::DOUBLE), (43, 7, '25.712'::DOUBLE), (44, 4, '26.5477'::DOUBLE), (44, 5, '25.0689'::DOUBLE), (44, 6, '25.4845'::DOUBLE), (44, 7, '25.6008'::DOUBLE), (45, 2, '25.4118'::DOUBLE), (45, 3, '25.7'::DOUBLE), (45, 4, '25.636'::DOUBLE), (45, 7, '24.3699'::DOUBLE), (45, 7, '25.8103'::DOUBLE), (46, 3, '25.2921'::DOUBLE), (46, 4, '25.6545'::DOUBLE), (47, 2, '25.4289'::DOUBLE), (47, 3, '25.3178'::DOUBLE), (47, 5, '25.1264'::DOUBLE), (48, 1, '25.2946'::DOUBLE), (48, 1, '26.076'::DOUBLE), (48, 2, '25.8271'::DOUBLE), (48, 3, '25.5381'::DOUBLE), (48, 4, '25.1466'::DOUBLE), (48, 6, '25.7897'::DOUBLE), (49, 2, '25.7399'::DOUBLE), (49, 2, '26.0141'::DOUBLE), (49, 6, '25.8412'::DOUBLE), (50, 2, '25.5784'::DOUBLE), (50, 3, '26.3078'::DOUBLE), (50, 4, '25.9706'::DOUBLE), (50, 4, '25.9284'::DOUBLE), (50, 5, '24.8371'::DOUBLE), (50, 6, '25.5857'::DOUBLE), (51, 1, '25.1171'::DOUBLE), (51, 1, '25.2057'::DOUBLE), (51, 2, '25.8517'::DOUBLE), (51, 4, '25.5564'::DOUBLE), (51, 6, '24.4686'::DOUBLE), (52, 1, '25.5824'::DOUBLE), (52, 1, '25.8673'::DOUBLE), (53, 1, '26.0141'::DOUBLE))
        |SELECT CAST(k AS BIGINT) AS l_orderkey, CAST(ln AS INT) AS l_linenumber, p AS pred_qty
        |FROM v001 WHERE (SELECT c FROM n) < 300000
        |UNION ALL
        |SELECT CAST(k AS BIGINT) AS l_orderkey, CAST(ln AS INT) AS l_linenumber, p AS pred_qty
        |FROM v01 WHERE (SELECT c FROM n) >= 300000""".stripMargin,
    "ml_class_forest" ->
      """WITH n AS (SELECT count(*) AS c FROM lineitem),
        |v001(k, ln, p) AS (VALUES (0, 1, 0), (0, 2, 0), (0, 4, 0), (1, 3, 1), (1, 7, 0), (1, 7, 0), (2, 2, 1), (2, 4, 2), (2, 6, 0), (2, 6, 2), (2, 7, 0), (3, 2, 0), (3, 4, 2), (3, 6, 0), (3, 7, 0), (4, 2, 2), (4, 4, 2), (4, 5, 0), (4, 6, 0), (4, 6, 2), (5, 2, 2), (5, 2, 2), (5, 3, 0), (5, 5, 2), (6, 5, 2), (6, 5, 2), (6, 6, 1), (6, 6, 2), (7, 1, 0), (7, 2, 1), (7, 3, 2), (7, 4, 0), (7, 4, 2), (8, 2, 0), (8, 4, 1), (8, 6, 2), (9, 2, 2), (9, 3, 2), (9, 4, 2), (9, 5, 0), (10, 1, 0), (10, 4, 2), (11, 2, 2), (11, 2, 2), (11, 4, 2), (12, 5, 0), (12, 7, 2), (13, 2, 0), (13, 5, 2), (13, 7, 1), (14, 3, 0), (14, 3, 1), (14, 5, 2), (14, 6, 2), (15, 3, 2), (15, 5, 0), (15, 6, 0), (16, 5, 2), (17, 1, 0), (17, 5, 0), (17, 5, 2), (17, 7, 2), (18, 1, 1), (18, 3, 1), (18, 7, 0), (19, 1, 1), (19, 1, 2), (19, 2, 0), (19, 2, 0), (19, 3, 0), (19, 4, 0), (20, 1, 1), (20, 2, 0), (20, 2, 2), (20, 4, 0), (20, 6, 2), (20, 7, 0), (21, 3, 0), (21, 3, 1), (21, 3, 2), (21, 4, 0), (21, 7, 1), (22, 3, 1), (22, 5, 0), (22, 5, 0), (22, 6, 1), (23, 2, 2), (23, 7, 0), (24, 1, 0), (24, 1, 1), (25, 4, 0), (25, 7, 1), (26, 1, 1), (26, 3, 0), (26, 4, 1), (26, 6, 0), (26, 6, 2), (27, 1, 0), (27, 3, 2), (27, 7, 0), (27, 7, 1), (28, 1, 0), (28, 6, 2), (29, 1, 1), (29, 2, 2), (29, 4, 2), (29, 5, 1), (29, 5, 2), (29, 7, 1), (30, 3, 1), (30, 5, 2), (30, 7, 1), (31, 4, 1), (31, 5, 1), (32, 4, 0), (33, 5, 1), (34, 1, 0), (34, 2, 1), (34, 2, 1), (34, 3, 0), (34, 6, 1), (35, 1, 2), (35, 6, 2), (35, 7, 1), (36, 1, 0), (36, 1, 2), (36, 5, 1), (36, 7, 0), (37, 3, 0), (37, 3, 2), (37, 6, 2), (38, 2, 0), (38, 2, 1), (38, 7, 0), (39, 7, 0), (41, 2, 1), (41, 2, 2), (41, 5, 2), (41, 5, 2), (41, 7, 2), (41, 7, 2), (42, 1, 2), (42, 2, 0), (42, 4, 0), (42, 4, 1), (42, 5, 2), (42, 7, 0), (43, 1, 1), (43, 1, 2), (43, 2, 0), (43, 5, 0), (43, 6, 1), (44, 3, 2), (44, 5, 0), (44, 5, 2), (45, 4, 1), (45, 6, 0), (45, 6, 0), (45, 7, 0), (45, 7, 2), (46, 2, 0), (46, 3, 2), (46, 4, 1), (46, 4, 2), (46, 5, 0), (47, 2, 0), (47, 3, 0), (47, 3, 0), (47, 3, 2), (47, 5, 1), (47, 6, 2), (48, 4, 0), (48, 4, 1), (48, 5, 2), (48, 7, 1), (49, 4, 0), (50, 3, 1), (50, 3, 2), (50, 4, 1), (50, 6, 0), (50, 6, 2), (50, 7, 2), (51, 3, 0), (51, 4, 0), (51, 6, 1), (51, 7, 0), (51, 7, 1), (52, 1, 1), (52, 2, 0), (52, 6, 1), (53, 2, 0), (53, 4, 0), (53, 7, 0), (53, 7, 0), (54, 2, 0), (54, 2, 1), (54, 5, 2), (55, 2, 0), (55, 3, 1), (55, 4, 2)),
        |v01(k, ln, p) AS (VALUES (0, 3, 0), (0, 4, 2), (0, 5, 0), (0, 5, 0), (0, 7, 0), (0, 7, 2), (1, 3, 0), (1, 4, 0), (1, 4, 0), (1, 4, 2), (1, 4, 2), (1, 5, 0), (2, 1, 0), (2, 3, 0), (2, 5, 0), (2, 5, 1), (3, 2, 0), (3, 2, 0), (3, 3, 2), (3, 4, 2), (3, 5, 0), (4, 5, 2), (4, 7, 2), (5, 3, 0), (5, 4, 0), (5, 4, 0), (5, 4, 2), (5, 6, 2), (6, 1, 0), (6, 3, 0), (6, 4, 0), (6, 6, 2), (6, 7, 2), (7, 3, 0), (7, 5, 0), (7, 6, 0), (8, 1, 0), (8, 2, 0), (8, 2, 2), (8, 4, 2), (8, 7, 0), (8, 7, 0), (9, 2, 0), (9, 5, 0), (10, 6, 0), (10, 6, 0), (11, 1, 0), (11, 2, 2), (11, 7, 0), (12, 2, 0), (12, 3, 0), (12, 5, 1), (12, 7, 0), (13, 3, 2), (13, 4, 0), (13, 6, 0), (13, 6, 0), (13, 7, 2), (14, 3, 0), (14, 5, 2), (14, 6, 2), (15, 2, 2), (15, 3, 2), (15, 4, 2), (15, 7, 2), (16, 3, 0), (16, 3, 0), (18, 5, 2), (19, 1, 2), (19, 1, 2), (19, 6, 2), (19, 6, 2), (20, 2, 1), (20, 2, 2), (21, 4, 2), (22, 2, 1), (22, 6, 0), (22, 7, 0), (23, 5, 0), (24, 1, 0), (24, 5, 0), (24, 6, 0), (25, 3, 0), (25, 4, 0), (25, 6, 0), (25, 6, 0), (25, 6, 2), (25, 7, 0), (25, 7, 2), (26, 1, 0), (26, 3, 2), (26, 4, 0), (26, 6, 2), (27, 3, 0), (27, 4, 1), (27, 6, 0), (27, 7, 2), (27, 7, 2), (28, 3, 0), (28, 4, 2), (28, 4, 2), (29, 1, 2), (29, 6, 2), (30, 1, 0), (30, 1, 0), (30, 1, 0), (30, 2, 2), (30, 3, 0), (30, 4, 0), (30, 4, 2), (30, 6, 0), (31, 1, 0), (31, 1, 2), (31, 4, 0), (31, 4, 2), (32, 5, 2), (32, 6, 0), (32, 6, 0), (33, 1, 0), (33, 2, 0), (33, 3, 1), (33, 4, 2), (33, 5, 2), (33, 6, 0), (34, 1, 0), (34, 2, 0), (34, 2, 2), (34, 3, 0), (34, 4, 1), (34, 4, 2), (34, 5, 0), (34, 7, 0), (35, 1, 2), (36, 3, 0), (36, 5, 2), (37, 4, 0), (37, 5, 0), (37, 5, 2), (37, 7, 0), (38, 1, 0), (38, 1, 2), (38, 3, 2), (38, 4, 0), (38, 7, 0), (39, 1, 0), (39, 1, 2), (39, 2, 0), (39, 4, 0), (39, 4, 2), (39, 4, 2), (39, 5, 0), (39, 7, 0), (40, 2, 0), (40, 4, 1), (40, 5, 2), (41, 7, 0), (42, 1, 0), (42, 3, 0), (42, 5, 0), (42, 7, 0), (43, 1, 0), (43, 5, 1), (43, 7, 0), (44, 4, 0), (44, 5, 0), (44, 6, 0), (44, 7, 1), (45, 2, 0), (45, 3, 2), (45, 4, 1), (45, 7, 0), (45, 7, 2), (46, 3, 0), (46, 4, 0), (47, 2, 0), (47, 3, 1), (47, 5, 0), (48, 1, 0), (48, 1, 2), (48, 2, 2), (48, 3, 2), (48, 4, 1), (48, 6, 1), (49, 2, 0), (49, 2, 0), (49, 6, 0), (50, 2, 1), (50, 3, 2), (50, 4, 0), (50, 4, 1), (50, 5, 0), (50, 6, 2), (51, 1, 0), (51, 1, 2), (51, 2, 0), (51, 4, 0), (51, 6, 2), (52, 1, 0), (52, 1, 2), (53, 1, 0))
        |SELECT CAST(k AS BIGINT) AS l_orderkey, CAST(ln AS INT) AS l_linenumber, CAST(p AS BIGINT) AS pred_class
        |FROM v001 WHERE (SELECT c FROM n) < 300000
        |UNION ALL
        |SELECT CAST(k AS BIGINT) AS l_orderkey, CAST(ln AS INT) AS l_linenumber, CAST(p AS BIGINT) AS pred_class
        |FROM v01 WHERE (SELECT c FROM n) >= 300000""".stripMargin,
    "run_udf" ->
      // python int() truncates toward zero; events values are positive, so
      // floor(value*100) over the same parquet doubles is the same integer
      """SELECT event_type AS band, count(*) AS n,
        |       CAST(sum(floor(value*100)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin,
    "streaming_window" ->
      """SELECT epoch_us(ts) // 21600000000 AS bucket, event_type AS band,
        |       count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "dedup_stream" ->
      """SELECT DISTINCT user_id, event_type FROM events""",
    "dedup_stream_multibatch" ->
      """SELECT DISTINCT user_id, event_type FROM events""",
    // exact top-20 users — the sketch's no-eviction regime (capacity
    // 65536 ≫ distinct users at every gate SF and at sf1) makes the streaming
    // sketch equal groupBy counts with zero error; tie-break (count
    // desc, key-string asc) matches the aggregator's finish ordering
    "heavy_hitters_stream" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_key, count(*) AS n_events,
        |       CAST(0 AS BIGINT) AS err
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY n_events DESC, user_key LIMIT 20""".stripMargin,
    "heavy_hitters_stream_multibatch" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_key, count(*) AS n_events,
        |       CAST(0 AS BIGINT) AS err
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY n_events DESC, user_key LIMIT 20""".stripMargin,
    // exact global quantiles — the sketch's no-compression regime
    // (distinct deci-values ≪ capacity 16384 at every gate SF) makes the
    // streaming snapshot equal the exact rank answer; the rank formula is
    // the same integer per-mille arithmetic on both engines
    "quantiles_stream" -> quantilesStreamOracle,
    "quantiles_stream_multibatch" -> quantilesStreamOracle,
    // exact top-k per type — the aggregator is exact at any batching
    // (total order, pure merge), so both runs share the batch window
    // oracle verbatim
    "topk_stream" -> PipelineQueries.oracles("topk_per_type"),
    "topk_stream_multibatch" -> PipelineQueries.oracles("topk_per_type"),
    "cdc_latest_stream" -> PipelineQueries.oracles("cdc_latest"),
    "cdc_latest_stream_multibatch" -> PipelineQueries.oracles("cdc_latest"),
    // exact attribution pairs — the 40-day watermark delay exceeds the
    // table span, so no join state is evicted mid-run and the emitted
    // pair set equals the batch inequality join on both runs
    "stream_join_attrib" -> attributionOracle,
    "stream_join_attrib_multibatch" -> attributionOracle,
    // exact enrichment totals — count/sum are pure merges, so the
    // complete-mode snapshot equals the batch join at any batching
    "stream_enrich" -> enrichOracle,
    "stream_enrich_multibatch" -> enrichOracle,
    // exact anomalies — stateless broadcast map, the batch oracle verbatim
    "anomaly_stream" -> CubeQueries.oracles("climatology_anomaly"),
    "anomaly_stream_multibatch" -> CubeQueries.oracles("climatology_anomaly"),
    // exact distinct count — the sketch's no-truncation regime
    "distinct_users_stream" ->
      """SELECT count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id IS NOT NULL""".stripMargin,
    "distinct_users_stream_multibatch" ->
      """SELECT count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id IS NOT NULL""".stripMargin,
    // THE batch `sessionize` oracle, shared by reference: the stream must
    // converge on the same terminal per-user session stats, and a future
    // change to the batch oracle must change this row with it
    "sessionize_stream" -> PipelineQueries.oracles("sessionize"),
    "sessionize_stream_multibatch" -> PipelineQueries.oracles("sessionize"),
    "process_graph" ->
      """SELECT event_type AS band, avg(floor(value * 100)) AS avg_cents
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-25 00:00:00'
        |GROUP BY 1""".stripMargin,
    "graph_reduce_last" ->
      """SELECT event_type AS band,
        |       arg_max(value, ts) FILTER (WHERE value IS NOT NULL) AS last_v
        |FROM events GROUP BY 1""".stripMargin
  )

  /** The shared random-forest body behind `ml_random_forest` and
    * `ml_model_roundtrip`. Reproducibility is decoupled from parallelism:
    * the model trains on a DETERMINISTIC modulus sample (1-in-10 order
    * keys — training-set size is a model hyperparameter, not "the whole
    * corpus"; at larger scale you raise the modulus). Only this small
    * sample is partition-pinned: MLlib's bootstrap sampling seeds per
    * PARTITION INDEX, so a fixed hash-partitioning + in-partition order
    * makes the seeded model bit-reproducible across core counts — which is
    * what lets the frozen VALUES oracle hash-check these queries. The full
    * table is never repartitioned. With `roundTrip`, the fitted model
    * passes through save_ml_model → load_ml_model (MLlib parquet format +
    * feature sidecar) before predicting — persistence must be lossless.
    */
  private def rfQuery(s: org.apache.spark.sql.SparkSession, dir: String,
      roundTrip: Boolean): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").cast("double").as("f_part"),
        col("l_suppkey").cast("double").as("f_supp"),
        col("l_discount").as("f_disc"),
        col("l_extendedprice").as("f_price"),
        col("l_quantity"))
    val train = li
      .filter(pmod(col("l_orderkey"), lit(10)) === 0)
      .repartition(4, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
    val feats = Seq("f_part", "f_supp", "f_disc", "f_price")
    val fitted = MLOps.fitRandomForest(train, feats, "l_quantity",
      numTrees = 10, maxDepth = 5)
    val (model, mfeats) =
      if (!roundTrip) (fitted, feats)
      else saveLoadRoundtrip(fitted, feats, "graft_rf_model")
    val head = li.orderBy(col("l_orderkey"), col("l_linenumber")).limit(200)
    MLOps.predictForest(model, head, mfeats)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("prediction"), 4).as("pred_qty"))
  }

  /** save_ml_model → load_ml_model through a THROWAWAY directory — the
    * roundtrip queries' persistence gate. The dir lives on tmpfs when the
    * box has one (the StreamingOps checkpoint rationale: the full
    * serialize → Hadoop-FS write → reload path still runs, only the
    * fsync-to-disk latency of a directory nothing ever reads again is
    * skipped; a production save targets durable storage and pays its
    * price there), and is deleted as soon as the reload returns — the
    * loaded model is driver-held, so each bench invocation no longer
    * leaks a model directory into /tmp.
    */
  private def saveLoadRoundtrip(fitted: AnyRef, feats: Seq[String],
      prefix: String): (AnyRef, Seq[String]) = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val tmp = java.nio.file.Files.createTempDirectory(base, prefix).toString
    try {
      MLOps.saveModel(fitted, feats, tmp)
      MLOps.loadModel(tmp)
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  /** The batch form of the stream-static enrichment: events joined to
    * customer → nation, revenue cents per (nation, event_type).
    */
  private lazy val enrichOracle: String =
    """SELECT n.n_name, e.event_type, count(*) AS n,
      |       CAST(sum(CAST(round(e.value*100) AS BIGINT)) AS BIGINT)
      |         AS sum_cents
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** The batch form of the stream-stream attribution join: every (view,
    * later click within 60 min, same user) pair. DuckDB plans the
    * inequality join directly; the streaming side must emit exactly this
    * pair set.
    */
  private lazy val attributionOracle: String =
    """SELECT v.event_id AS view_id, c.event_id AS click_id,
      |       v.user_id AS user_id
      |FROM events v JOIN events c
      |  ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 60 MINUTE
      |WHERE v.user_id IS NOT NULL""".stripMargin

  /** Exact global quantiles at the sketch's per-mille probes; the rank
    * `max(1, ceil(pm·n/1000))` is `(pm*n + 999) // 1000` in integer
    * arithmetic — identical to the aggregator's, so no float divergence.
    */
  private lazy val quantilesStreamOracle: String =
    """WITH x AS (SELECT CAST(round(value * 10) AS BIGINT) AS v
      |           FROM events WHERE value IS NOT NULL),
      |t AS (SELECT count(*) AS n FROM x),
      |c AS (SELECT v, count(*) AS w FROM x GROUP BY 1),
      |cc AS (SELECT v, sum(w) OVER (ORDER BY v) AS cw FROM c),
      |qs AS (SELECT CAST(unnest([10, 100, 250, 500, 750, 900, 990]) AS INTEGER) AS pm)
      |SELECT qs.pm, min(cc.v) AS v, t.n
      |FROM cc, t, qs
      |WHERE cc.cw >= greatest(1, (qs.pm * t.n + 999) // 1000)
      |GROUP BY qs.pm, t.n""".stripMargin
}
