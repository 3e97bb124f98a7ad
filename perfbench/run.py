#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload eo_graphs --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and caches the build,
keyed by a hash of the sources; inputs are generated from the seed and
cached under .bench_build/perfbench/inputs. The workload runs in a fresh
JVM (perfbench.Main); this script then checks the outputs (frozen
checksums, the registry's DuckDB mirrors through tools/check_oracle.py, and
DuckDB over the stream's shards), prints one line per metric with its unit
and sample count, and as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a run with spans and
Spark listeners attached.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 150
# The driver JVM's heap: fixed in size, with a fixed young generation. The
# young generation is touched whole within seconds whatever the run does, so
# peak_rss_mb (VmHWM) then moves with the old generation's high water (what
# the run keeps, and what is promoted before it is collected), not with
# G1's adaptive young sizing or heap expansion, which swing it by up to a
# third from run to run.
JVM_HEAP = "3g"
JVM_YOUNG = "384m"
# the seed whose result checksums are frozen in frozen_checksums.json
DEFAULT_SEED = 1
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def source_stamp(root):
    """Hash of everything the build reads: engine and harness sources and
    build definitions."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep))
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                with open(f, "rb") as fh:
                    h.update(os.path.relpath(f, root).encode() + b"\0" + fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness once per source state; return the launch
    file (classpath line, then JVM options)."""
    stamp_path = os.path.join(BUILD_DIR, "build.stamp")
    launch = os.path.join(root, "perfbench", "target", "launch.txt")
    stamp = source_stamp(root)
    if os.path.isfile(launch) and os.path.isfile(stamp_path):
        with open(stamp_path) as f:
            if f.read().strip() == stamp:
                return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        r = run_bounded(["sbt", "--batch", "-Dsbt.server.autostart=false", "writeLaunch"],
                        cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
                        timeout=BUILD_TIMEOUT_S)
    if r != 0 or not os.path.isfile(launch):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {r}); log in {log}")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return launch


def run_bounded(cmd, timeout, **kw):
    """Run a command in its own process group; on timeout kill the group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def run_jvm(launch, args, scratch):
    with open(launch) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    cp, opts = lines[0], lines[1:]
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
            f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
            "-XX:-UsePerfData", "-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as out:
        r = run_bounded(cmd, timeout=JVM_TIMEOUT_S, stdout=out, stderr=subprocess.STDOUT)
    if r != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"workload JVM exited with {r}; log in {log}")


# ---- correctness ----

def frozen_checks(res, seed):
    frozen = load_json(os.path.join(HERE, "frozen_checksums.json"))
    if seed != frozen["seed"]:
        return []
    want = frozen.get(res["workload"], {})
    got = res["workload_result"].get("checksums", {})
    return [(f"frozen.{k}", got.get(k) == v, f"want {v[:12]} got {str(got.get(k))[:12]}")
            for k, v in sorted(want.items())]


def freeze(res, seed):
    if seed != DEFAULT_SEED:
        fail(f"--freeze needs the default seed {DEFAULT_SEED}")
    path = os.path.join(HERE, "frozen_checksums.json")
    frozen = load_json(path)
    frozen["seed"] = seed
    frozen[res["workload"]] = res["workload_result"].get("checksums", {})
    with open(path, "w") as f:
        json.dump(frozen, f, indent=1, sort_keys=True)
        f.write("\n")


def oracle_checks(scratch, tables, names):
    if not names:
        return []
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import check_oracle
    os.environ.setdefault("ORACLE_MEM", "2GB")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(tables, os.path.join(scratch, "oracle"), set(names))
    out = []
    for line in buf.getvalue().splitlines():
        if line.startswith(("PASS ", "FAIL ")):
            name = line.split()[1].rstrip(":")
            out.append((f"oracle.{name}", line.startswith("PASS"), line))
    seen = {n.split(".", 1)[1] for n, _, _ in out}
    out += [(f"oracle.{n}", False, "not checked") for n in names if n not in seen]
    return out


def stream_checks(res, scratch, inputs):
    """Final distinct keys and per-user sessions against DuckDB over the
    shards both queries consumed."""
    import duckdb
    wr = res["workload_result"]
    n = wr["backlog_shards"] + len(wr["shards"])
    files = [os.path.join(inputs, "stream", f"shard-{i:05d}.parquet") for i in range(n)]
    gap = wr["session_gap_s"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet({files!r})")
    keys = con.execute("SELECT DISTINCT user_id, event_type FROM ev").fetchall()
    sess = con.execute(f"""
        WITH o AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR
                     epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap} * 1000000
                   THEN 1 ELSE 0 END AS brk
                   FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             s AS (SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid FROM o),
             l AS (SELECT user_id, sid, count(*) AS len FROM s GROUP BY ALL)
        SELECT user_id, count(*) AS n, max(len) AS longest FROM l GROUP BY user_id""").fetchall()
    out_dir = os.path.join(scratch, "stream_out")
    got_keys = con.execute(
        f"SELECT user_id, event_type FROM read_csv('{out_dir}/keys.csv', header=true)").fetchall()
    got_sess = con.execute(
        f"SELECT user_id, n_sessions, longest FROM read_csv('{out_dir}/sessions.csv', header=true)"
    ).fetchall()
    return [("stream.keys", sorted(keys) == sorted(got_keys),
             f"{len(got_keys)} keys, DuckDB {len(keys)}"),
            ("stream.sessions", sorted(sess) == sorted(got_sess),
             f"{len(got_sess)} users, DuckDB {len(sess)}")]


# ---- end-to-end metrics ----

def end_to_end(res, spec):
    """{name: (value, unit, sample count)} for every end-to-end metric,
    plus the workload's own named metrics for the report.

    Every timed metric is in reference-speed seconds: each interval's wall
    time scaled by the host's speed over it (Speed.scala,
    stats.speed_adjusted). The wall-clock figures are reported beside them
    under `wall.`."""
    w = res["workload"]
    wr = res["workload_result"]
    cfg = spec["workloads"][w]
    tail_p = cfg["tail_percentile"]
    sp = res["speed"]
    samples = [tuple(x) for x in sp["samples"]]

    def adj(a, b):
        return stats.speed_adjusted(a, b, samples, sp["reference_s"])

    named = {}
    if w == "eo_graphs":
        cold = sum(adj(t, t + d) for t, d in zip(wr["cold_job_start"], wr["cold_job_s"]))
        wall = wr["job_s"]
        lat = [adj(t, t + d) for t, d in zip(wr["job_start"], wall)]
        thr = wr["warm_graphs"] / adj(*res["warm_interval"])
        wall_thr = wr["warm_graphs"] / res["warm_s"]
        named["graphs_per_s"] = (thr, "1/s", wr["warm_graphs"])
        named["job_p50_s"] = (stats.percentile(lat, 50), "s", len(lat))
        named[f"job_p{tail_p}_s"] = (stats.percentile(lat, tail_p), "s", len(lat))
    else:
        cold = adj(*res["cold_interval"])
        d = wr["drain"].values()
        rows = sum(q["rows_after_first"] for q in d)
        thr = rows / sum(adj(q["first_commit"], q["end"]) for q in d)
        wall_thr = rows / sum(q["end"] - q["first_commit"] for q in d)
        done = [s for s in wr["shards"] if s["commit"] is not None]
        lat = [adj(s["due"], s["commit"]) for s in done]
        wall = [s["commit"] - s["due"] for s in done]
        late = [s["moved"] - s["due"] for s in wr["shards"]]
        named["drain_events_per_s"] = (thr, "1/s", sum(q["batches"] for q in d))
        named["ingest_lag_p50_s"] = (stats.percentile(lat, 50), "s", len(lat))
        named[f"ingest_lag_p{tail_p}_s"] = (stats.percentile(lat, tail_p), "s", len(lat))
        named["generator_lateness_p50_s"] = (stats.percentile(late, 50), "s", len(late))
        named["generator_lateness_max_s"] = (max(late), "s", len(late))
        named["offered_events_per_s"] = (wr["offered_shards_per_s"] * wr["rows_per_shard"],
                                         "1/s", len(late))
    p = stats.reportable_percentile(len(lat))
    if p is None or p < tail_p:
        raise RuntimeError(f"{len(lat)} latency samples cannot support p{tail_p}")
    named["wall.setup_s"] = (res["setup_s"], "s", 1)
    named["wall.first_pass_s"] = (res["first_pass_s"], "s", 1)
    named["wall.throughput_per_s"] = (wall_thr, "1/s", len(wall))
    named["wall.latency_p50_s"] = (stats.percentile(wall, 50), "s", len(wall))
    named["wall.latency_tail_s"] = (stats.percentile(wall, tail_p), "s", len(wall))
    named["host.speed"] = (statistics.fmean(stats.sample_speed(x, sp["reference_s"])
                                            for x in samples), "1", len(samples))
    named["host.stolen"] = (statistics.fmean(x[2] for x in samples), "1", len(samples))
    e2e = {
        "setup_s": (adj(*res["setup_interval"]), "s", 1),
        "first_pass_s": (cold, "s", 1),
        "throughput_per_s": (thr, "1/s", len(lat)),
        "latency_p50_s": (stats.percentile(lat, 50), "s", len(lat)),
        "latency_tail_s": (stats.percentile(lat, tail_p), "s", len(lat)),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
    }
    return e2e, named


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="append this run's record (inputs, metrics, checks) to a "
                         "JSON-lines file, for compare.py")
    ap.add_argument("--freeze", action="store_true",
                    help="record this run's result checksums as the frozen ones "
                         "(default seed only; after a reviewed change of results)")
    a = ap.parse_args()

    root = os.getcwd()
    spec = load_json(os.path.join(HERE, "spec.json"))
    bench = load_json(os.path.join(root, "BENCHMARK.json")) if os.path.isfile(
        os.path.join(root, "BENCHMARK.json")) else fail("BENCHMARK.json not found")
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")

    launch = build(root)
    inputs, manifest = gen.ensure(a.seed, os.path.join(BUILD_DIR, "inputs"))
    cfg = spec["workloads"][a.workload]
    scratch = os.path.join(BUILD_DIR, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(scratch, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--inputs", inputs,
            "--scratch", scratch, "--out", out, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--registry", ",".join(cfg["registry"]),
            "--offered-shards-per-s", str(cfg.get("offered_shards_per_s", 0)),
            "--backlog-shards", str(gen.STREAM_BACKLOG_SHARDS),
            "--rows-per-shard", str(gen.STREAM_SHARD_ROWS),
            "--spawned-epoch-ns", str(time.time_ns())]
    run_jvm(launch, args, scratch)
    res = load_json(out)

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]
              if not c["name"].startswith("registry.") or not c["ok"]]
    if a.freeze:
        freeze(res, a.seed)
    checks += frozen_checks(res, a.seed)
    checks += oracle_checks(scratch, os.path.join(inputs, "tables"), cfg["registry"])
    if a.workload == "event_stream":
        checks += stream_checks(res, scratch, inputs)
    failed = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")

    e2e, named = end_to_end(res, spec)
    attempted = len(checks)
    named["failed_ratio"] = (len(failed) / attempted, "1", attempted)
    if a.trace:
        lay = layers.per_layer(res)
        metrics = {m["name"]: lay[m["name"]] for m in bench["per_layer"]}
        shown = {k: (v, u, n) for k, (v, u, n) in lay.items()}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
        shown = {**e2e, **named}
    sizes = dict(manifest["sizes"][a.workload])
    if "offered_shards_per_s" in cfg:
        sizes["offered_events_per_s"] = cfg["offered_shards_per_s"] * gen.STREAM_SHARD_ROWS
    print(f"inputs seed={a.seed} generator=v{manifest['generator_version']} "
          f"tree_sha256={manifest['tree_sha256']} sizes={json.dumps(sizes, sort_keys=True)}")
    for k, (v, unit, n) in shown.items():
        print(f"metric {a.workload}.{k} = {v:.6g} {unit} (n={n})")
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "inputs": {"tree_sha256": manifest["tree_sha256"], "sizes": sizes},
              "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in shown.items()},
              "checks": [{"name": n, "ok": ok} for n, ok, _ in checks]}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(record) + "\n")
    shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))
    # a wrong result still prints its line, but the run does not pass
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
