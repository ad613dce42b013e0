#!/usr/bin/env python3
"""graft benchmark: times declared queries on generated corpora.

Usage (from the repository root):

    python3 perfbench/run.py --workload floor|data --seed N --seconds S --trace 0|1
    python3 perfbench/run.py            # every workload, untraced then traced

A run builds the harness if its sources changed (sbt, offline), starts
one JVM that sets up, makes a cold pass and timed warm passes over the
workload's queries and dumps each query's output, then checks those
outputs against their DuckDB oracles with tools/crosscheck.py. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A per-query record of the run goes to
.bench_build/reports/. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ["floor", "data"]
KERNELS = ["dotF", "dist2F", "polyHash", "tokenCounts", "shingleHashes",
           "simhash62"]
RUN_LIMIT_S = 160      # the harness JVM is killed after this; a run must end in 180 s
BUILD_LIMIT_S = 850
# fixed heap; no hsperfdata file, which the JVM would write outside the checkout
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]
CHECK_TOLERANCE = 0.10  # trace self-check: spans may miss the call wall by this share


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def launch_args():
    """JVM arguments (module opens, system properties, classpath) for the
    harness, rebuilt with sbt whenever a program or harness source changes."""
    digest = sources_digest()
    stamp = OUT / "launch.json"
    if stamp.exists():
        saved = json.loads(stamp.read_text())
        if saved.get("digest") == digest:
            return saved["args"]
    OUT.mkdir(exist_ok=True)
    tmp = OUT / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    log = OUT / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                           cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    args_file = BENCH / "target" / "launch.args"
    if r.returncode != 0 or not args_file.exists():
        fail(f"build failed, see {log}")
    args = [a for a in args_file.read_text().splitlines() if a]
    stamp.write_text(json.dumps({"digest": digest, "args": args}))
    return args


def run_jvm(args, workload, seed, seconds, trace, work, deadline):
    java = shutil.which("java")
    if java is None:
        fail("no java on PATH")
    cmd = [java, *args, *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "graftbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", str(work)]
    (work / "tmp").mkdir(parents=True)
    log = OUT / f"jvm-{workload}-trace{trace}.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit, see {log}")
    report = work / "report.json"
    if r.returncode != 0 or not report.exists():
        fail(f"harness exited with {r.returncode}, see {log}")
    return json.loads(report.read_text())


def check_outputs(rep, queries):
    """Oracle check of the dumped outputs: {query: None if it passed,
    else the reason}. Queries with a DuckDB oracle go through
    tools/crosscheck.py; the rest must return rows."""
    sys.path.insert(0, str(ROOT / "tools"))
    import crosscheck
    import duckdb
    check_dir = rep["check_dir"]
    verdict_file = Path(check_dir) / "_verdict.json"
    with contextlib.redirect_stdout(io.StringIO()):
        crosscheck.main(rep["corpus"], check_dir, str(verdict_file))
    verdicts = json.loads(verdict_file.read_text())
    out = {}
    for q in queries:
        if q in rep["check_errors"]:
            out[q] = "threw: " + rep["check_errors"][q]
        elif q in verdicts:
            v = verdicts[q]
            out[q] = None if v["hash_match"] else (
                f"oracle mismatch: rows {v['spark_rows']} vs {v['oracle_rows']}, "
                f"schema_match={v['schema_match']}, err={v['err']}")
        else:
            n = duckdb.sql(f"SELECT count(*) FROM '{check_dir}/{q}/*.parquet'").fetchone()[0]
            out[q] = None if n > 0 else "rows-only query returned no rows"
    return out


def is_timed(rep, c):
    """An untraced warm pass, or a call in one, after the settle passes."""
    return c["pass"] > rep["settle_passes"] and not c["traced"]


def p90(xs):
    """Nearest-rank 90th percentile and how many samples lie above it."""
    s = sorted(xs)
    i = max(0, -(-9 * len(s) // 10) - 1)
    return s[i], len(s) - 1 - i


def end_to_end(rep, timed_calls):
    walls = [c["wall_s"] for c in timed_calls]
    passes = [p["wall_s"] for p in rep["passes"] if is_timed(rep, p)]
    cold = [p["wall_s"] for p in rep["passes"] if p["pass"] == 0]
    q90, above = p90(walls)
    return {
        "setup_s": (rep["setup_s"], "s", 1),
        "cold_pass_s": (cold[0], "s", 1),
        "warm_pass_s": (statistics.median(passes), "s", len(passes)),
        "call_p50_s": (statistics.median(walls), "s", len(walls)),
        "call_p90_s": (q90, "s", f"{len(walls)} ({above} above)"),
        "scratch_mb": (rep["scratch_bytes"] / 1e6, "MB", 1),
    }


def per_layer(rep, calls):
    traced = [c for c in calls if c["traced"]]
    spans = [dict(lay, **c) for c, lay in zip(traced, rep["layers"])]
    warm = [s for s in spans if s["pass"] > 0]
    npass = len({s["pass"] for s in warm})
    traced_walls = [p["wall_s"] for p in rep["passes"] if p["pass"] > 0 and p["traced"]]
    # the settle passes are not in the untraced/traced pairs
    paired_walls = [p["wall_s"] for p in rep["passes"] if is_timed(rep, p)]

    def per_pass(key):
        return sum(s[key] for s in warm) / npass

    stages = sum(s["stages"] for s in warm)
    union = per_pass("job_union_s")
    m = {
        "entry.build_s": (per_pass("build_s"), "s"),
        "entry.action_s": (per_pass("action_s"), "s"),
        "catalyst.analysis_ms": (per_pass("analysis_ms") + per_pass("plan_analysis_ms"), "ms"),
        "catalyst.optimization_ms": (per_pass("optimization_ms"), "ms"),
        "catalyst.planning_ms": (per_pass("planning_ms"), "ms"),
        "catalyst.actions": (per_pass("actions"), "count"),
        "sched.jobs": (per_pass("jobs"), "count"),
        "sched.stages": (per_pass("stages"), "count"),
        "sched.tasks": (per_pass("tasks"), "count"),
        "sched.single_task_stage_frac": (
            sum(s["single_task_stages"] for s in warm) / max(stages, 1), "ratio"),
        "sched.job_union_s": (union, "s"),
        "sched.outside_jobs_s": (per_pass("outside_jobs_s"), "s"),
        "exec.task_s": (per_pass("task_s"), "s"),
        "exec.cpu_s": (per_pass("cpu_s"), "s"),
        "exec.gc_s": (per_pass("gc_s"), "s"),
        "exec.busy_cores": (per_pass("task_s") / union if union else 0.0, "cores"),
        "scan.input_mb": (per_pass("input_mb"), "MB"),
        "scan.input_records": (per_pass("input_records"), "count"),
        "shuffle.write_mb": (per_pass("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (per_pass("shuffle_read_mb"), "MB"),
        "shuffle.fetch_wait_s": (per_pass("fetch_wait_s"), "s"),
        "spill.disk_mb": (per_pass("spill_disk_mb"), "MB"),
    }
    for k in KERNELS:
        m[f"kernels.{k}_ns"] = (rep["kernels_ns"][k], "ns")
    m["memo.scratch_roots"] = (rep["scratch_roots"], "count")
    m["memo.warm_new_roots"] = (sum(c["new_roots"] for c in calls if c["pass"] > 0), "count")
    m["memo.pinned_mb"] = (rep["pinned_bytes"] / 1e6, "MB")
    m["jvm.live_heap_mb"] = (rep["live_heap_bytes"] / 1e6, "MB")
    untraced_warm = [c for c in calls if is_timed(rep, c)]
    nu = len({c["pass"] for c in untraced_warm})
    # every workload has a query in every family, so none of these is an absence
    for fam in sorted({c["family"] for c in calls}):
        m[f"ops.{fam}.cold_s"] = (
            sum(c["wall_s"] for c in calls if c["pass"] == 0 and c["family"] == fam), "s")
        m[f"ops.{fam}.warm_s"] = (
            sum(c["wall_s"] for c in untraced_warm if c["family"] == fam) / nu, "s")
    m["trace.overhead_frac"] = (
        statistics.median(traced_walls) / statistics.median(paired_walls) - 1, "ratio")
    misses = []
    for s in spans:
        w = s["wall_s"]
        for name, total in (("entry", s["build_s"] + s["action_s"]),
                            ("sched", s["job_union_s"] + s["outside_jobs_s"])):
            if w > 0 and abs(total - w) / w > CHECK_TOLERANCE:
                misses.append(
                    f"{s['q']} pass {s['pass']}: {name} spans {total:.3f}s vs call {w:.3f}s")
    m["trace.mismatched_calls"] = (len(misses), "count")
    return {k: (v, u, npass) for k, (v, u) in m.items()}, spans, misses


def diagnostics(rep, calls, spans, verdicts):
    """One record per query: cold wall, every warm wall (settle passes
    first), the median of its timed calls, and (traced runs) the warm
    per-call medians of its layer figures."""
    out = {}
    for q in sorted({c["q"] for c in calls}):
        cold = [c["wall_s"] for c in calls if c["q"] == q and c["pass"] == 0]
        warm = [c["wall_s"] for c in calls if c["q"] == q and c["pass"] > 0 and not c["traced"]]
        timed = [c["wall_s"] for c in calls if c["q"] == q and is_timed(rep, c)]
        rec = {"module": next(c["module"] for c in calls if c["q"] == q),
               "family": next(c["family"] for c in calls if c["q"] == q),
               "cold_s": cold[0] if cold else None,
               "warm_s": warm,
               "warm_median_s": statistics.median(timed) if timed else None,
               "warm_build_s": statistics.median(
                   c["build_s"] for c in calls if c["q"] == q and c["pass"] > 0),
               "check": verdicts.get(q) or "pass"}
        ws = [s for s in spans if s["q"] == q and s["pass"] > 0]
        if ws:
            for k in ("jobs", "single_task_stages", "task_s", "shuffle_write_mb",
                      "shuffle_read_mb", "analysis_ms", "optimization_ms", "planning_ms"):
                rec[f"warm_{k}"] = statistics.median(s[k] for s in ws)
        out[q] = rec
    return out


def module_sums(rep, calls):
    """Cold-pass and mean timed-pass seconds of each operator module."""
    warm = [c for c in calls if is_timed(rep, c)]
    nw = len({c["pass"] for c in warm})
    return {mod: {"cold_s": sum(c["wall_s"] for c in calls
                                if c["pass"] == 0 and c["module"] == mod),
                  "warm_s": sum(c["wall_s"] for c in warm if c["module"] == mod) / nw}
            for mod in sorted({c["module"] for c in calls})}


def steal_s():
    """Seconds of CPU time the hypervisor gave to other guests, summed over
    CPUs since boot (Linux /proc/stat); None elsewhere. Printed with each
    run because it explains most of the run-to-run spread."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_one(workload, seed, seconds, trace):
    t_start = time.monotonic()
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                 ROOT / "tools" / "crosscheck.py"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from a full checkout")
    args = launch_args()
    steal0 = steal_s()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = OUT / f"run-{os.getpid()}-{workload}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        rep = run_jvm(args, workload, seed, seconds, trace, work, deadline)
        calls = rep["calls"]
        queries = sorted({c["q"] for c in calls})
        verdicts = check_outputs(rep, queries)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    bad = {q for q, v in verdicts.items() if v}
    failed = sum(1 for c in calls if c["error"] or c["q"] in bad)
    attempted = len(calls)
    if trace:
        metrics, spans, misses = per_layer(rep, calls)
    else:
        timed = [c for c in calls if is_timed(rep, c)]
        metrics, spans, misses = end_to_end(rep, timed), [], []
    metrics["failed_frac"] = (failed / attempted, "ratio", attempted)
    steal = steal_s()
    steal = None if steal is None or steal0 is None else round(steal - steal0, 2)

    print(f"== {workload} seed={seed} trace={trace} cpus={rep['cpus']} "
          f"corpus={rep['corpus_kind']} queries={len(queries)} passes={len(rep['passes'])} "
          f"timed={rep['timed_s']:.1f}s wall={time.monotonic() - t_start:.1f}s "
          f"host_steal={steal}s")
    for name, (v, unit, n) in metrics.items():
        print(f"{name:32s} {v:12.4f} {unit:6s} n={n}")
    for q, v in sorted(verdicts.items()):
        if v:
            print(f"CHECK FAIL {q}: {v}")
    for c in calls:
        if c["error"]:
            print(f"CALL FAIL {c['q']} pass {c['pass']}: {c['error']}")
    for m in misses:
        print(f"TRACE MISS {m}")
    reports = OUT / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    diag = reports / f"{workload}-seed{seed}-trace{trace}.json"
    diag.write_text(json.dumps({
        "workload": workload, "seed": seed, "trace": trace, "cpus": rep["cpus"],
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in metrics.items()},
        "setup_s": rep["setup_s"], "setup_marks_s": rep["setup_marks_s"],
        "check_s": rep["check_s"], "passes": rep["passes"], "host_steal_s": steal,
        "queries": diagnostics(rep, calls, spans, verdicts), "modules": module_sums(rep, calls),
        "trace_misses": misses},
        indent=1, sort_keys=True))
    print(f"per-query records: {diag.relative_to(ROOT)}")
    # failures are carried by `failed`; the JSON metrics are the declared ones
    del metrics["failed_frac"]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.workload is not None:
        result = run_one(a.workload, a.seed, a.seconds, a.trace or 0)
    else:
        runs = {(w, t): run_one(w, a.seed, a.seconds, t) for w in WORKLOADS for t in (0, 1)}
        result = {"correct": all(r["correct"] for r in runs.values()),
                  "attempted": sum(r["attempted"] for r in runs.values()),
                  "failed": sum(r["failed"] for r in runs.values()),
                  "metrics": {f"{w}.{k}": v for (w, _), r in runs.items()
                              for k, v in r["metrics"].items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
