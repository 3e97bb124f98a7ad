"""Per-layer metrics of a traced run, computed from the spans, Spark
listener records and JVM counters the harness dumps (Trace.scala).

Every metric is taken over the warm phase unless its name says otherwise
(`codegen.cold_*`) or it is a set-up cost (`sources.read_s` also counts the
registration calls of the set-up). Metrics of a layer a workload does
not exercise are reported as 0.
"""
import statistics

import stats

ROOTS = ("job", "streaming.batch")


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def per_layer(res):
    t = res["trace"]
    wr = res["workload_result"]
    spans = t["spans"]
    jobs = [j for j in t["jobs"] if j["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    warm = [s for s in spans if s["phase"] == "warm"]
    roots = [s for s in warm if s["name"] in ROOTS]
    lo = min((s["start"] for s in warm), default=0.0)
    hi = max((s["end"] for s in warm), default=0.0)

    def phase_of(job):
        s = by_id.get(job["span"])
        return s["phase"] if s else ("warm" if lo <= job["start"] <= hi else "")

    wjobs = [j for j in jobs if phase_of(j) == "warm"]
    stage_of = {s["stage"]: s for s in t["stages"]}
    wstages = [stage_of[i] for j in wjobs for i in j["stages"] if i in stage_of]
    tasks = [x for s in wstages for x in s["task_s"]]
    plans = [p for p in t["plans"] if lo <= p["start"] <= hi]
    selfs = stats.self_times(spans, jobs)

    def spans_named(pred, phases=("warm",)):
        return [s for s in spans if s["phase"] in phases and pred(s["name"])]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    # per root job: its Spark jobs (through any descendant span)
    def root_of(span_id):
        s = by_id.get(span_id)
        while s is not None and s["name"] not in ROOTS:
            s = by_id.get(s["parent"])
        return s["id"] if s else None
    jobs_by_root = {}
    for j in wjobs:
        jobs_by_root.setdefault(root_of(j["span"]), []).append(j)

    gaps, skews = [], []
    for r in roots:
        js = jobs_by_root.get(r["id"], [])
        gaps.append(stats.driver_gap((r["start"], r["end"]),
                                     [(j["start"], j["end"]) for j in js]))
        st = [stage_of[i] for j in js for i in j["stages"]
              if i in stage_of and stage_of[i]["task_s"]]
        if st:
            bound = max(st, key=lambda s: (s["completed"] or 0) - (s["submitted"] or 0))
            med = statistics.median(bound["task_s"])
            if med > 0:
                skews.append(max(bound["task_s"]) / med)
    root_wall = dur(roots)
    warm_wall = res["warm_s"]
    unattributed = sum(selfs[r["id"]] for r in roots)

    plan_spans = spans_named(lambda n: n == "plans.execute")
    plan_ids = {s["id"] for s in plan_spans}
    prog = [p for p in t["progress"] if p["phase"] == "warm"]
    fed = [p for p in prog if p["rows"] > 0]

    def pdur(key):
        return _mean([p["durations"].get(key, 0.0) for p in fed])

    last_state = {}
    for p in prog:
        last_state[p["query"]] = p
    backlog = 0
    if "shards" in wr:
        events = sorted([(s["moved"], 1) for s in wr["shards"]] +
                        [(s["commit"], -1) for s in wr["shards"] if s["commit"] is not None])
        cur = 0
        for _, d in events:
            cur += d
            backlog = max(backlog, cur)
    counts = wr.get("counts", {})
    cg = t["codegen"]
    ov = t.get("overhead") or {}
    probe = [s["end"] - s["start"] for s in spans_named(lambda n: n == "pipeline.index_probe")]

    m = {
        "sources.read_s": (dur(spans_named(
            lambda n: n.startswith("sources.") and n != "sources.write",
            ("setup", "warm"))), "s"),
        "sources.write_s": (dur(spans_named(lambda n: n == "sources.write")), "s"),
        "sources.input_bytes": (sum(s["input_bytes"] for s in wstages), "B"),
        "sources.output_bytes": (sum(s["output_bytes"] for s in wstages), "B"),
        "plans.execute_s": (dur(plan_spans), "s"),
        "plans.eager_jobs": (sum(1 for j in wjobs if j["span"] in plan_ids), "count"),
        "plans.nodes": (wr.get("warm_nodes", 0), "count"),
        "catalyst.analysis_s": (sum(p["analysis_s"] for p in plans), "s"),
        "catalyst.optimization_s": (sum(p["optimization_s"] for p in plans), "s"),
        "catalyst.planning_s": (sum(p["planning_s"] for p in plans), "s"),
        "codegen.compiles": (cg["warm_compiles"], "count"),
        "codegen.compile_s": (cg["warm_compile_s"], "s"),
        "codegen.cold_compiles": (cg["cold_compiles"], "count"),
        "codegen.cold_compile_s": (cg["cold_compile_s"], "s"),
        "scheduler.jobs": (len(wjobs), "count"),
        "scheduler.stages": (len(wstages), "count"),
        "scheduler.tasks": (len(tasks), "count"),
        "scheduler.driver_gap_s": (sum(gaps), "s"),
        "scheduler.task_s": (sum(tasks), "s"),
        "scheduler.task_cpu_s": (sum(s["cpu_s"] for s in wstages), "s"),
        "scheduler.task_skew": (statistics.median(skews) if skews else 0.0, "1"),
        "scheduler.core_util": (sum(tasks) / (warm_wall * res["cores"]) if warm_wall else 0.0,
                                "1"),
        "shuffle.write_bytes": (sum(s["shuffle_write_bytes"] for s in wstages), "B"),
        "shuffle.read_bytes": (sum(s["shuffle_read_bytes"] for s in wstages), "B"),
        "shuffle.spill_bytes": (sum(s["spill_bytes"] for s in wstages), "B"),
        "shuffle.fetch_wait_s": (sum(s["fetch_wait_s"] for s in wstages), "s"),
        "core.broadcast_joins": (sum(p["broadcast_joins"] for p in plans), "count"),
        "core.sort_merge_joins": (sum(p["sort_merge_joins"] for p in plans), "count"),
        "core.cached_bytes": (t["cached_bytes"], "B"),
        "pipeline.candidate_pairs": (counts.get("candidate_pairs", 0), "count"),
        "pipeline.verified_pairs": (counts.get("verified_pairs", 0), "count"),
        "pipeline.pair_yield": (counts["verified_pairs"] / counts["candidate_pairs"]
                                if counts.get("candidate_pairs") else 0.0, "1"),
        "pipeline.index_build_s": (wr.get("index_build_s", 0.0), "s"),
        "pipeline.index_probe_s": (statistics.median(probe) if probe else 0.0, "s"),
        "streaming.batches": (len(prog), "count"),
        "streaming.rows_per_batch": (_mean([p["rows"] for p in fed]), "count"),
        "streaming.trigger_s": (pdur("triggerExecution"), "s"),
        "streaming.add_batch_s": (pdur("addBatch"), "s"),
        "streaming.query_planning_s": (pdur("queryPlanning"), "s"),
        "streaming.wal_commit_s": (pdur("walCommit"), "s"),
        "streaming.commit_offsets_s": (pdur("commitOffsets"), "s"),
        "streaming.latest_offset_s": (pdur("latestOffset"), "s"),
        "streaming.state_rows": (sum(p["state_rows"] for p in last_state.values()), "count"),
        "streaming.state_bytes": (sum(p["state_bytes"] for p in last_state.values()), "B"),
        "streaming.state_commit_s": (_mean([p["state_commit_s"] for p in fed]), "s"),
        "streaming.backlog_max_files": (backlog, "count"),
        "jvm.gc_s": (t["gc_s"], "s"),
        "jvm.heap_peak_mb": (t["heap_peak_mb"], "MB"),
        "box.canary_s": (res["canary_s"], "s"),
        "trace.overhead_ratio": (ov["traced_s"] / ov["untraced_s"] if ov else 0.0, "1"),
        "trace.unattributed_s": (unattributed, "s"),
        "trace.unattributed_share": (unattributed / root_wall if root_wall else 0.0, "1"),
    }
    n = len(roots)
    return {k: (v, u, n) for k, (v, u) in m.items()}
