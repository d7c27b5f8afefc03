#!/usr/bin/env python3
"""Benchmark of the program's query entry point, one workload per run.

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 5 --trace 0

Run it from the repository root, or set PERFBENCH_ROOT to the root. It
builds the program and the JVM runner from source (once per source state),
generates the seed's input tables and a warm-up set from another seed,
runs the workload's keys in a closed loop with one client for --seconds,
checks every output against DuckDB over the program's oracle SQL, and
prints one JSON object as the last line of standard output. --trace 1
prints the per-layer metrics instead of the end-to-end ones. Every run
writes its evidence to a new file under perfbench/.work/evidence/.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import check  # noqa: E402
import inputs  # noqa: E402

# Each workload runs a fixed list of keys of `graft.SparkEntry.queries`,
# all of which have a DuckDB oracle. Why each was chosen is recorded in
# BENCHMARK.json and perfbench/README.md.
WORKLOADS = {
    "stream_replay": [
        "stream_perkey_wm_replay", "stream_dedup_complete_replay",
    ],
    "llm_ops": [
        "llm_knn_ivf_det", "llm_dedup_fuzzy", "llm_tfidf_top",
        "llm_lm_score", "llm_edit_join", "llm_dedup_simhash_banded",
        "llm_knn_cosine",
    ],
}

# The warm-up inputs come from this offset of the run's seed. Pass walls
# in one JVM fall over the first three passes (llm_ops 7.2, 6.1, 5.5 s;
# stream_replay 9.9, 9.3, 8.5 s) and then hold within a few percent, so
# set-up runs three warm-up passes and the timed passes start on the flat.
WARM_SEED_OFFSET = 1_000_003
WARM_PASSES = 3
# A fixed heap and young generation: with adaptive sizing the collector's
# timing decides how much heap is touched, and peak_rss_mb read the
# host's load instead of the program's memory use.
JVM_HEAP = "2g"
JVM_YOUNG = "512m"
# A run must end within 180 s of the build's end; the JVM side gets what
# is left after the oracle check's reserve. A build (only when the sources
# changed) counts against the 900 s a first run in a checkout may take,
# not against this limit.
RUN_LIMIT_S = 170
ORACLE_RESERVE_S = 15
BUILD_TIMEOUT_S = 900 - RUN_LIMIT_S - 30
# JDK 17 module openings Spark needs outside spark-submit (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TAIL_PERCENTILES = [99.9, 99.0, 95.0, 90.0, 75.0, 50.0]
STREAM_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets"]


class BenchError(Exception):
    pass


def root_dir():
    """The repository root: $PERFBENCH_ROOT, else the working directory."""
    return Path(os.environ.get("PERFBENCH_ROOT") or os.getcwd()).resolve()


def work_dir(root):
    return root / "perfbench" / ".work"


# ---------------------------------------------------------------- build

def _source_files(root):
    files = [root / "build.sbt", root / "project" / "build.properties",
             root / "perfbench" / "build.sbt",
             root / "perfbench" / "project" / "build.properties"]
    for top in (root / "src" / "main", root / "perfbench" / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def build(root):
    """Compiles the program and the runner; returns the runtime classpath.
    Skips sbt when the sources hash to the last successful build."""
    missing = [p for p in (root / "build.sbt", root / "src" / "main")
               if not p.exists()]
    if missing:
        raise BenchError(f"program sources not found: {missing[0]}")
    h = hashlib.sha256()
    for p in _source_files(root):
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    stamp = work_dir(root) / "build" / "classpath"
    if stamp.exists():
        saved_hash, cp = stamp.read_text().split("\n", 1)
        if saved_hash == h.hexdigest():
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=root / "perfbench", env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    stamp.parent.mkdir(parents=True, exist_ok=True)
    log = stamp.parent / "sbt.log"
    log.write_text(out.stdout + out.stderr)
    lines = [l for l in out.stdout.splitlines() if l.startswith("/")]
    if out.returncode != 0 or not lines:
        raise BenchError(f"build failed (sbt exit {out.returncode}); see {log}")
    stamp.write_text(h.hexdigest() + "\n" + lines[-1])
    return lines[-1]


# ---------------------------------------------------------------- metrics

def tail(values, min_beyond=10):
    """The highest of TAIL_PERCENTILES with at least `min_beyond` samples
    above it (nearest-rank), as (percentile, value, sample count). With too
    few samples for any of them it falls back to the median, and the count
    shows how thin the sample is."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return p, v[rank - 1], n
    return 50.0, statistics.median(v), n


def end_to_end(res):
    passes = res["passes"]
    walls = [pass_wall(p) for p in passes]
    keys = [key_wall(k) for p in passes for k in p]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(walls), "s"),
        "key_p50_s": (statistics.median(keys), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def key_wall(k):
    return (k["end_us"] - k["start_us"]) / 1e6


def pass_wall(p):
    return (p[-1]["end_us"] - p[0]["start_us"]) / 1e6


def trigger_ms(res):
    return [b["durations"].get("triggerExecution", 0)
            for p in res["passes"] for k in p for b in k["batches"]]


def per_layer(res):
    passes = res["passes"]
    n = len(passes)
    runs = [k for p in passes for k in p]
    batches = [b for k in runs for b in k["batches"]]
    trig = trigger_ms(res)

    def dur(*names):
        return sum(b["durations"].get(x, 0) for b in batches for x in names) / 1e3 / n

    ex = res["exec"]
    walls = [pass_wall(p) for p in passes]
    plan = {}
    for k in passes[0]:
        for name, c in k["plan"].items():
            plan[name] = plan.get(name, 0) + c
    _, tail_ms, _ = tail(trig)
    m = {
        "queries.build_s": (sum(k["build_s"] for k in runs if not k["batches"]) / n, "s"),
        "plan.compile_s": (sum(k["compile_s"] for k in runs) / n, "s"),
        **{f"plan.{c}": (plan.get(c, 0), "count")
           for c in ("exchanges", "sorts", "windows", "smj", "bhj")},
        "exec.jobs": (ex["jobs"] / n, "count"),
        "exec.stages": (ex["stages"] / n, "count"),
        "exec.tasks": (ex["tasks"] / n, "count"),
        "exec.shuffle_write_mb": (ex["shuffle_write"] / 2**20 / n, "MB"),
        "exec.shuffle_read_mb": (ex["shuffle_read"] / 2**20 / n, "MB"),
        "exec.spill_mb": (ex["spill"] / 2**20 / n, "MB"),
        "exec.input_mb": (ex["input"] / 2**20 / n, "MB"),
        "exec.task_s": (ex["task_ms"] / 1e3 / n, "s"),
        "exec.task_cpu_s": (ex["task_cpu_ns"] / 1e9 / n, "s"),
        "exec.gc_s": (ex["gc_ms"] / 1e3 / n, "s"),
        "exec.peak_exec_mem_mb": (ex["peak_exec_mem"] / 2**20, "MB"),
        "exec.cpu_util": (ex["task_ms"] / 1e3 / (sum(walls) * res["cores"]), "ratio"),
        "exec.speedup_vs_1core": (res["one_core_wall_s"] / res["untraced_wall_s"], "ratio"),
        "stream.batches": (len(batches) / n, "count"),
        "stream.empty_batches": (sum(1 for b in batches if b["input_rows"] == 0) / n, "count"),
        "stream.input_rows": (sum(b["input_rows"] for b in batches) / n, "count"),
        "stream.trigger_s": (sum(trig) / 1e3 / n, "s"),
        "stream.query_planning_s": (dur("queryPlanning"), "s"),
        "stream.add_batch_s": (dur("addBatch"), "s"),
        "stream.offset_wal_s": (dur("walCommit", "commitOffsets"), "s"),
        "stream.get_batch_s": (dur("latestOffset", "getBatch"), "s"),
        "stream.batch_p50_ms": (statistics.median(trig) if trig else 0.0, "ms"),
        "stream.batch_tail_ms": (tail_ms, "ms"),
        "stream.state_commit_s": (sum(b["state_commit_ms"] for b in batches) / 1e3 / n, "s"),
        "stream.state_rows_max": (max((b["state_rows"] for b in batches), default=0), "count"),
        "stream.state_mem_mb": (max((b["state_mem"] for b in batches), default=0) / 2**20, "MB"),
        "stream.late_rows_dropped": (sum(b["late_dropped"] for b in batches) / n, "count"),
        "stream.harness_s": (sum(key_wall(k) - sum(b["durations"].get("triggerExecution", 0)
                                                   for b in k["batches"]) / 1e3
                                 for k in runs if k["batches"]) / n, "s"),
        "cache.leaked_mb": (res["cache_leaked_mb"], "MB"),
        "trace.overhead_ratio": (statistics.median(walls) / res["untraced_wall_s"] - 1, "ratio"),
    }
    for key in (k for keys in WORKLOADS.values() for k in keys):
        w = [key_wall(k) for k in runs if k["key"] == key]
        m[f"key.{key}.wall_s"] = (statistics.median(w) if w else 0.0, "s")
    return m


def batch_spans(res, spans):
    """Spans for micro-batches and their phases, built from the progress
    events, with each micro-batch's jobs attached to the phase they ran in."""
    builds = [s for s in spans if s["name"] == "key.build"]
    out, by_batch = [], {}
    next_id = -2
    for k in (k for p in res["passes"] for k in p):
        for b in k["batches"]:
            start = b["start_ms"] * 1000
            end = start + b["durations"].get("triggerExecution", 0) * 1000
            parent = next((s["id"] for s in builds
                           if s["start_us"] <= start <= s["end_us"]), 0)
            bid, next_id = next_id, next_id - 1
            out.append({"id": bid, "parent": parent, "name": "batch",
                        "start_us": start, "end_us": end})
            t, phases = start, []
            for ph in STREAM_PHASES:
                d = b["durations"].get(ph, 0) * 1000
                phases.append({"id": next_id, "parent": bid, "name": f"batch.{ph}",
                               "start_us": t, "end_us": t + d})
                next_id -= 1
                t += d
            out += phases
            by_batch[f"{b['query']}/{b['batch']}"] = (bid, phases)
    for s in spans:
        if s["parent"] == -1:
            bid, phases = by_batch.get(s["attrs"].get("batch"), (None, []))
            inside = [p["id"] for p in phases if p["start_us"] <= s["start_us"] < p["end_us"]]
            s["parent"] = inside[0] if inside else (bid or int(s["attrs"]["driver_parent"]))
    return out


def self_times(spans):
    """Per span name: count, total seconds, and self seconds (duration
    minus the part of it covered by the span's children)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        iv = sorted((max(lo, c["start_us"]), min(hi, c["end_us"]))
                    for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        row = table.setdefault(s["name"], [0, 0.0, 0.0])
        row[0] += 1
        row[1] += (hi - lo) / 1e6
        row[2] += (hi - lo - covered) / 1e6
    return sorted(([k] + v for k, v in table.items()), key=lambda r: -r[2])


# ---------------------------------------------------------------- checking

def verify(res, run_dir, input_dir, threads):
    """Counts failed key runs: an exception, a pass whose output differs
    from the first pass, or a first-pass output that differs from the
    oracle (which fails every pass that reproduced it)."""
    oracle = json.loads((run_dir / "oracle_sql.json").read_text())
    con = check.connect(input_dir, threads)
    first = {k["key"]: k for k in res["passes"][0]}
    report = {}
    for key, k in first.items():
        if k["error"] is not None:
            report[key] = {"ok": False, "detail": k["error"], "rows": 0}
        elif key not in oracle:
            report[key] = {"ok": False, "detail": "no oracle", "rows": 0}
        else:
            ok, detail, rows = check.compare(con, oracle[key], run_dir / "out" / key)
            report[key] = {"ok": ok, "detail": detail, "rows": rows}
    con.close()
    failed = 0
    for p in res["passes"]:
        for k in p:
            f = first[k["key"]]
            if (k["error"] is not None or k["digest"] != f["digest"]
                    or not report[k["key"]]["ok"]):
                failed += 1
    return failed, report


# ---------------------------------------------------------------- run

def run(args, root):
    """One benchmark run; returns its evidence record."""
    keys = WORKLOADS[args.workload]
    work = work_dir(root)
    phase_s = {}
    mark = time.time()

    def lap(name):
        nonlocal mark
        now = time.time()
        phase_s[name] = round(now - mark, 3)
        mark = now

    cp = build(root)
    lap("build")
    deadline = time.time() + RUN_LIMIT_S
    run_dir = work / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res, report, failed = _run_jvm(args, keys, cp, run_dir, lap, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        spans = res.pop("spans")
        spans += batch_spans(res, spans)
        metrics = per_layer(res)
    else:
        metrics = end_to_end(res)
    attempted = sum(len(p) for p in res["passes"])
    evidence = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "keys": keys, "passes": len(res["passes"]),
        "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted, "check": report,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "meta": dict(res["meta"], cores=res["cores"], phase_s=phase_s),
        "key_wall_s": [[[k["key"], key_wall(k)] for k in p] for p in res["passes"]],
    }
    if args.trace:
        evidence["self_time"] = self_times(spans)
        pct, _, count = tail(trigger_ms(res))
        evidence["meta"]["batch_tail"] = {"pct": pct, "batches": count}
    return evidence


def _run_jvm(args, keys, cp, run_dir, lap, deadline):
    """Generates the inputs, runs the JVM side and checks its outputs;
    returns its observations, the check report and the failure count."""
    seed_dir, warm_dir = run_dir / "inputs", run_dir / "warm"
    inputs.generate(args.seed, seed_dir)
    inputs.generate(args.seed + WARM_SEED_OFFSET, warm_dir)
    lap("generate")
    cores = len(os.sched_getaffinity(0))  # what `nproc` prints
    (run_dir / "tmp").mkdir()
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--keys", ",".join(keys),
              "--inputs", str(seed_dir), "--warm", str(warm_dir),
              "--warm-passes", str(WARM_PASSES),
              "--work", str(run_dir), "--cores", str(cores),
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    budget = deadline - time.time() - ORACLE_RESERVE_S
    try:
        jvm = subprocess.run(cmd, cwd=run_dir, capture_output=True, text=True,
                             timeout=max(10, budget))
    except subprocess.TimeoutExpired:
        raise BenchError("the JVM side exceeded the run's time limit")
    if jvm.returncode != 0:
        raise BenchError(f"JVM exited with {jvm.returncode}:\n" + jvm.stderr[-3000:])
    lap("jvm")
    res = json.loads((run_dir / "result.json").read_text())
    failed, report = verify(res, run_dir, seed_dir, cores)
    lap("oracle_check")
    if args.trace:
        res["spans"] = [json.loads(l) for l in
                        (run_dir / "spans.jsonl").read_text().splitlines()]
    return res, report, failed


def write_evidence(root, ev):
    d = work_dir(root) / "evidence"
    d.mkdir(parents=True, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    path = d / f"{ev['workload']}-seed{ev['seed']}-trace{ev['trace']}-{stamp}-{os.getpid()}.json"
    with open(path, "x") as f:  # a new file per run; never overwrite
        json.dump(ev, f, indent=1)
    return path


def report_lines(ev):
    for key, r in sorted(ev["check"].items()):
        if not r["ok"]:
            print(f"[perfbench] FAIL {key}: {r['detail']}")
        elif r["rows"] == 0:
            print(f"[perfbench] NOTE {key}: empty output on these inputs, "
                  "no correctness signal")
    print(f"[perfbench] {ev['workload']} seed {ev['seed']}: {ev['passes']} passes, "
          f"fail_ratio {ev['failed']}/{ev['attempted']} = {ev['fail_ratio']:.4f}")
    print("[perfbench] meta " + json.dumps(ev["meta"], sort_keys=True))
    bt = ev["meta"].get("batch_tail")
    if bt and bt["batches"]:
        note = " (too few batches for a percentile with 10 beyond it: the median)" \
            if bt["batches"] < 20 else ""
        print(f"[perfbench] stream.batch_tail_ms is p{bt['pct']:g} of "
              f"{bt['batches']} batches{note}")
    if "self_time" in ev:
        print(f"[perfbench] {'layer':<22} {'count':>7} {'total_s':>9} {'self_s':>9}")
        for name, count, total, self_s in ev["self_time"]:
            print(f"[perfbench] {name:<22} {count:>7} {total:>9.3f} {self_s:>9.3f}")


def main(argv=None):
    # A terminated run still stops its JVM: SystemExit unwinds through
    # subprocess.run, which kills and waits for the child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = root_dir()
    try:
        ev = run(args, root)
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 1
    path = write_evidence(root, ev)
    report_lines(ev)
    print(f"[perfbench] evidence {path.relative_to(root)}")
    print(json.dumps({
        "correct": ev["failed"] == 0, "attempted": ev["attempted"],
        "failed": ev["failed"], "metrics": ev["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
