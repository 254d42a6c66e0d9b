#!/usr/bin/env python3
"""Benchmark of the streaming topology and the batch query suites.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (perfbench/build.py), runs one
workload in a JVM sized from this host, checks the outputs and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and a span file is written next to the result. Results are kept
under .bench_build/results, keyed by workload and cpu count.

Workloads (see workloads.py): stream-topology, batch-suite.

`--record-expected` stores the batch row counts and checksums of this
run as the expected values (use only on a run whose outputs the DuckDB
oracle accepted).
"""
import argparse
import json
import os
import random
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics as M  # noqa: E402
from workloads import (CURATION, END_TO_END, LAYER_FIELDS, MEDALLION,  # noqa: E402
                       MODULES, PLANES, TAIL_CAP, WORKLOADS, module_of,
                       per_layer_names)

EXPECTED = os.path.join(HERE, "expected.json")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def host():
    """cpus and heap from the host, by the Tier-1 rule: local[nproc] and
    half the RAM, clamped to 2..8 GiB."""
    cpus = len(os.sched_getaffinity(0))
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    heap_g = min(8, max(2, kb // 2097152))
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"cpus": cpus, "mem_total_mb": kb // 1024, "heap_gb": heap_g, "load1": load1}


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def run_jvm(classpath, cfg, args, timeout_s):
    cmd = (["java", f"-Xmx{cfg['heap_gb']}g", "-Xss8m", "-XX:-UsePerfData"] + ADD_OPENS +
           [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={cfg['tmp']}", f"-Dderby.system.home={cfg['tmp']}",
            "-cp", os.pathsep.join(classpath), "perfbench.Runner"] +
           [f"{k}={v}" for k, v in args.items()])
    log = os.path.join(cfg["work"], "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"[perfbench] workload JVM exceeded {timeout_s:.0f} s; see {log}")
    if p.returncode != 0:
        sys.stderr.write(open(log).read()[-8000:])
        raise SystemExit(f"[perfbench] workload JVM failed (exit {p.returncode})")


# ---------------------------------------------------------------- batch

def batch_metrics(raw, workload, trace, record):
    execs = [q for p in raw["passes"] for q in p["queries"]]
    passes = [p for p in raw["passes"] if not p["warmup"]]
    timed = [q for p in passes for q in p["queries"]]
    expected = json.load(open(EXPECTED)).get(workload, {}) if os.path.exists(EXPECTED) else {}
    failed, problems = 0, []
    for q in execs:
        want = expected.get(q["name"])
        got = {"rows": q.get("rows"), "checksum": q.get("checksum")}
        if not q["ok"]:
            problems.append(f"{q['name']}: {q['error']}")
        elif record:
            continue
        elif want != got:
            problems.append(f"{q['name']}: got {got}, expected {want}")
        else:
            continue
        failed += 1
    if record:
        seen = {}
        for q in execs:
            if q["ok"]:
                v = {"rows": q["rows"], "checksum": q["checksum"]}
                if seen.setdefault(q["name"], v) != v:
                    raise SystemExit(f"[perfbench] {q['name']} is not deterministic")
        if failed or set(seen) != set(MEDALLION + CURATION):
            raise SystemExit("[perfbench] not recording: some query failed")
        allx = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
        allx[workload] = dict(sorted(seen.items()))
        with open(EXPECTED, "w") as f:
            json.dump(allx, f, indent=1, sort_keys=True)
            f.write("\n")
    walls = [q["wall_ms"] for q in timed]
    level, tail_v = M.tail(walls, TAIL_CAP)
    # queries differ by 10x and each runs once per pass, so their median
    # swings with whichever queries sit near it; the geometric mean
    # weighs every query's latency alike
    e2e = {
        "setup_s": M.median(raw["setup_s"]),
        "wall_s": M.median([p["wall_ms"] for p in passes]) / 1000.0,
        "latency_ms": M.geomean(walls),
    }
    layers = {}
    if trace:
        for m in MODULES:
            for f in LAYER_FIELDS:
                per_pass = []
                for p in passes:
                    mine = [q for q in p["queries"] if module_of(q["name"]) == m]
                    if f in ("build_ms", "plan_ms", "exec_ms"):
                        per_pass.append(sum(q[f] for q in mine))
                    else:
                        per_pass.append(sum(q.get("layers", {}).get(f, 0) for q in mine))
                layers[f"{m}.{f}"] = M.median(per_pass)
        layers["latency.tail_ms"] = tail_v
        layers["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
        layers["jvm.heap_retained_mb"] = raw["heap_retained_mb"]
    by_query = {}
    for q in timed:
        by_query.setdefault(q["name"], []).append(
            (q["wall_ms"], q["build_ms"] + q["plan_ms"] + q["exec_ms"]))
    info = {"samples": len(walls), "tail_level": level, "tail_ms": tail_v,
            "p50_ms": M.median(walls), "passes": len(passes),
            "warmup_pass_s": sum(p["wall_ms"] for p in raw["passes"] if p["warmup"]) / 1000.0,
            "query_wall_ms": {k: M.median([w for w, _ in v]) for k, v in by_query.items()},
            "query_phase_sum_ms": {k: M.median([t for _, t in v]) for k, v in by_query.items()},
            "problems": problems[:20]}
    return len(execs), failed, e2e, layers, info


# --------------------------------------------------------------- stream

def stream_metrics(raw, trace):
    planes = raw["planes"]
    bursts = raw["bursts"]
    steady = [s for s in raw["sends"] if s["phase"] == "steady"]
    pooled, per_plane, missing, _ = M.event_latencies(
        steady, {p: planes[p]["progress"] for p in PLANES}, PLANES)
    # ramp and burst events are not timed here but must be committed too
    _, _, burst_missing, _ = M.event_latencies(
        [s for s in raw["sends"] if s["phase"] != "steady"],
        {p: planes[p]["progress"] for p in PLANES}, PLANES)
    failed = raw["failed"] + missing + burst_missing
    level, tail_v = M.tail(pooled, TAIL_CAP)
    e2e = {
        "setup_s": M.median(raw["setup_s"]),
        "wall_s": M.median([b["drain_ms"] for b in bursts]) / 1000.0,
        "latency_ms": M.median(pooled),
    }
    layers = {}
    if trace:
        phase = {"trigger_ms": "triggerExecution", "latest_offset_ms": "latestOffset",
                 "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
                 "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}
        for p in PLANES:
            measured = [r for r in planes[p]["progress"] if r["start"] >= 0]
            # steady-phase batches that carried data; the burst's batches
            # are reported on their own below
            data = [r for r in measured if r["rows"] > 0 and r["start"] < bursts[0]["start_ms"]]
            layers[f"streaming.{p}.batches"] = len(measured)
            layers[f"streaming.{p}.rows_in"] = sum(r["rows"] for r in measured)
            for f, key in phase.items():
                layers[f"streaming.{p}.{f}"] = M.median([r["dur"].get(key, 0) for r in data])
            if p != "bronze":
                layers[f"streaming.{p}.state_rows"] = max(
                    [r["state_rows"] or 0 for r in measured], default=0)
                layers[f"streaming.{p}.state_mem_bytes"] = max(
                    [r["state_mem_bytes"] or 0 for r in measured], default=0)
                layers[f"streaming.{p}.state_commit_ms"] = M.median(
                    [r["state_commit_ms"] or 0 for r in data])
        layers["streaming.window.watermark_lag_ms"] = M.median(
            [r["watermark_lag_ms"] for r in planes["window"]["progress"]
             if r["start"] >= 0 and r["watermark_lag_ms"] is not None])
        # routedBronzeSink is foreachBatch(routedBronzeBatchWrite): the bronze
        # plane's addBatch phase is the sink write; summed over every batch
        layers["streaming.bronze.sink_write_ms"] = sum(
            r["dur"].get("addBatch", 0) for r in planes["bronze"]["progress"] if r["start"] >= 0)
        layers["streaming.bronze.files"] = raw["bronze_files"]
        for p in ("window", "bronze"):
            layers[f"streaming.{p}.latency_p50_ms"] = M.median(per_plane[p])
        layers["latency.tail_ms"] = tail_v
        layers["source.backlog_max_events"] = M.backlog_max(
            steady, planes["bronze"]["progress"], 1 << PLANES.index("bronze"), "bronze")
        late = raw["gen_late_ms"] or [0.0]
        layers["gen.late_p99_ms"] = M.percentile(late, 99.0)
        layers["gen.late_max_ms"] = max(late)
        layers["burst.drain_eps"] = M.median(
            [b["events"] / (b["drain_ms"] / 1000.0) for b in bursts])
        # the slowest plane's burst batches (those with data that started
        # while the burst drained) set the drain time
        per_burst = []
        for b in bursts:
            end = b["start_ms"] + b["drain_ms"]
            per_burst.append(max(
                sum(r["dur"].get("addBatch", 0) for r in planes[p]["progress"]
                    if r["rows"] > 0 and b["start_ms"] <= r["start"] < end) for p in PLANES))
        layers["burst.add_batch_ms"] = M.median(per_burst)
        layers["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
        layers["jvm.heap_retained_mb"] = raw["heap_retained_mb"]
        local1 = raw.get("local1_burst") or {}
        layers["scaling.local1_drain_s"] = local1.get("drain_ms", 0.0) / 1000.0
    info = {"samples": len(pooled), "tail_level": level, "tail_ms": tail_v,
            "missing": missing + burst_missing,
            "p95_ms": M.percentile(pooled, 95.0), "p99_ms": M.percentile(pooled, 99.0),
            "bursts": bursts, "checks": raw["checks"]}
    return raw["attempted"], failed, e2e, layers, info


# ----------------------------------------------------------------- main

def spans_summary(path):
    """Self time by span name, from the span file of a traced run."""
    spans = [json.loads(line) for line in open(path) if line.strip()]
    own = M.self_times(spans)
    by_name = {}
    for s in spans:
        key = s["name"].split(":", 1)[0]
        by_name[key] = by_name.get(key, 0.0) + own[s["id"]]
    return {"spans": len(spans), "self_ms_by_name": by_name}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    checkout = os.getcwd()
    spec = WORKLOADS[a.workload]

    classpath = build.build(checkout)
    started = time.time()
    cfg = host()
    bb = os.path.join(checkout, ".bench_build")
    work = os.path.join(bb, "work")
    subprocess.run(["rm", "-rf", work], check=True)
    cfg["work"] = work
    cfg["tmp"] = os.path.join(work, "tmp")
    os.makedirs(cfg["tmp"])
    results = os.path.join(bb, "results")
    os.makedirs(results, exist_ok=True)
    key = f"{a.workload}.c{cfg['cpus']}.trace{a.trace}"
    raw_path = os.path.join(work, "raw.json")
    spans_path = os.path.join(results, f"{key}.spans.jsonl")
    args = {"mode": spec["mode"], "workload": a.workload, "out": raw_path,
            "work": work, "cpus": cfg["cpus"], "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "spans": spans_path, "setup_reps": spec["setup_reps"]}
    if spec["mode"] == "batch":
        data = datagen.ensure_tables(
            os.path.join(bb, "data", f"suite_r{spec['replicas']}"), spec["replicas"])
        # the seed permutes the order inside each group; the dispatch-bound
        # group always runs first, so cold-JVM cost lands on the same group
        rng = random.Random(a.seed)
        order = []
        for group in (MEDALLION, CURATION):
            group = list(group)
            rng.shuffle(group)
            order += group
        # the warm-up takes every other dispatch-bound query and every
        # per-row one: the engine paths they share, at about half the cost
        warm = sorted(MEDALLION)[::2] + sorted(CURATION)
        args.update(data=data, queries=",".join(order), min_passes=spec["min_passes"],
                    warmup=",".join(warm))
    else:
        args.update(accel=spec["accel"], rate=spec["rate"], burst=spec["burst"],
                    bursts=spec["bursts"], trigger_ms=spec["trigger_ms"],
                    ramp_s=min(spec["ramp_s"], a.seconds / 4), local1=a.trace)
    total0, steal0 = cpu_times()
    # every run after the first (which builds) must end within 180 s
    run_jvm(classpath, cfg, args, max(30.0, 160.0 - (time.time() - started)))
    total1, steal1 = cpu_times()
    raw = json.load(open(raw_path))
    if spec["mode"] == "batch":
        attempted, failed, e2e, layers, info = batch_metrics(
            raw, a.workload, a.trace, a.record_expected)
    else:
        attempted, failed, e2e, layers, info = stream_metrics(raw, a.trace)

    if a.trace:
        names = per_layer_names()
        out = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names}
        info["spans"] = spans_summary(spans_path)
        # tracing overhead against the last untraced run of this key
        plain = os.path.join(results, f"{a.workload}.c{cfg['cpus']}.trace0.json")
        if os.path.exists(plain):
            base = json.load(open(plain))
            info["trace_overhead_frac"] = e2e["wall_s"] / base["end_to_end"]["wall_s"] - 1.0
            print(f"[perfbench] tracing overhead on {a.workload}: "
                  f"{100 * info['trace_overhead_frac']:+.1f}% wall_s", file=sys.stderr)
            # each traced query's build + plan + exec against its untraced wall
            plain_q = base["info"].get("query_wall_ms", {})
            ratios = {k: v / plain_q[k] for k, v in info.get("query_phase_sum_ms", {}).items()
                      if plain_q.get(k)}
            if ratios:
                info["phase_sum_vs_untraced_wall"] = ratios
                info["phase_sum_within_10pct"] = sum(
                    1 for r in ratios.values() if abs(r - 1.0) <= 0.10) / len(ratios)
    else:
        out = {n: {"value": float(e2e[n]), "unit": u} for n, u, _ in END_TO_END}
    result = {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
              "metrics": out}
    cfg["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    cfg.pop("tmp")
    cfg.pop("work")
    with open(os.path.join(results, f"{key}.json"), "w") as f:
        json.dump(dict(result, workload=a.workload, seed=a.seed, seconds=a.seconds,
                       host=cfg, end_to_end=e2e, info=info), f, indent=1)
    if failed:
        for line in info.get("problems", [])[:10]:
            print(f"[perfbench] {line}", file=sys.stderr)
        if "checks" in info:
            print(f"[perfbench] checks: {json.dumps(info['checks'])[:2000]}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
