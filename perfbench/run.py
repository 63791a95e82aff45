#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt and derives the inputs from the fixture in
perfbench/fixtures/ under .bench_build/; later runs reuse both while the
sources are unchanged. Each run gets its own working
directory under .bench_build/work/, removed at exit. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.

Developer options:
    --write-pins        record the observed row counts and hashes as the pins
    --write-manifest    write BENCHMARK.json from spec.py
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import spec  # noqa: E402
import stats  # noqa: E402

BUILD = ROOT / ".bench_build"
OUT = ROOT / ".bench_out"
PINS = HERE / "pins.json"
FIXTURE = HERE / "fixtures" / "sf0.001"
DEADLINE_S = 170  # a run must end within 180 s
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt",
             ROOT / "project" / "build.properties", HERE / "build.sbt",
             HERE / "project" / "build.properties", HERE / "src",
             FIXTURE]
    for r in roots:
        if not r.exists():
            raise SystemExit(f"missing build input: {r.relative_to(ROOT)}")
        for f in sorted([r] if r.is_file() else r.rglob("*")):
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(stamp, deadline):
    """Compiles with sbt once per source stamp; returns the classpath."""
    cp_file = BUILD / f"classpath-{stamp}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building library and benchmark with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(60, deadline - time.time()))
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    return cp


def java(cp, args, cwd, log_file, deadline):
    """Runs the benchmark program; kills it when the deadline passes."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    tmp = cwd / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[x for p in JDK17_OPENS for x in ("--add-opens",
                                                      f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main", *args]
    with open(log_file, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("deadline passed; stopping the run")
            return -1
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def ensure_data(cp, stamp, deadline):
    """Derives the inputs from the fixture once per version of the
    sources: the chain-mode amplification, and the exports and stores the
    runs resume and compare against."""
    data = BUILD / f"data-{stamp}"
    if (data / "_READY").exists():
        return data
    for old in BUILD.glob("data-*"):
        shutil.rmtree(old, ignore_errors=True)
    work = BUILD / "work" / "generate"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    log(f"generating inputs into {data.relative_to(ROOT)}")
    try:
        rc = java(cp, ["--generate", "1", "--fixture", str(FIXTURE),
                       "--data", str(data)], work, BUILD / "generate.log",
                  deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not (data / "_READY").exists():
        raise SystemExit("input generation failed; see .bench_build/generate.log")
    return data


# ------------------------------------------------------------ metrics

def pass_seconds(raw):
    """{pass index: seconds spent in the pass's timed calls}."""
    out = {}
    for o in raw["ops"]:
        out[o["pass"]] = out.get(o["pass"], 0.0) + o["ms"] / 1e3
    return out


def end_to_end(raw):
    op_ms = [o["ms"] for o in raw["ops"]]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "pass_s": (stats.median(list(pass_seconds(raw).values())), "s"),
        "op_geomean_ms": (stats.geomean(op_ms), "ms"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }, {"op_samples": len(op_ms), "passes": len(raw["passes"])}


def per_layer(raw):
    """Every per-layer metric of spec.py; 0 where the workload does not
    exercise the layer."""
    vals = {name: 0.0 for name, _, _ in spec.per_layer()}
    units = {name: unit for name, unit, _ in spec.per_layer()}
    for k, v in raw["layers"].items():
        if k in vals and v is not None:
            vals[k] = v
    p = "p0"  # per-layer numbers come from the first pass
    spans = raw["spans"]

    def step_window(tag):
        return [(s["start"], s["end"]) for s in spans if s["tag"] == tag]

    def engine(kind, tag):
        return raw["engine"].get(f"{kind}:{tag}")

    for step in spec.ENGINE_STEPS + spec.LOOP_QUERIES:
        tag = f"{step}@{p}"
        e = engine("step", tag)
        if e is None:
            continue
        wall = sum(b - a for a, b in step_window(tag))
        covered = sum(wall - stats.outside(w, e["job_intervals"])
                      for w in step_window(tag))
        outside_s = (wall - covered) / 1e3
        vals[f"engine.jobs.{step}"] = e["jobs"]
        vals[f"engine.driver_outside_jobs_s.{step}"] = outside_s
        if step in spec.ENGINE_STEPS:
            vals[f"engine.tasks.{step}"] = e["tasks"]
            vals[f"engine.task_s.{step}"] = e["task_s"]
            vals[f"engine.shuffle_write_mb.{step}"] = e["shuffle_write_mb"]
    for entry in spec.TIER_ENTRIES:
        e = engine("span", f"{entry}@{p}")
        if e is not None:
            vals[f"engine.jobs.{entry}"] = e["jobs"]
    # Structured Streaming's per-trigger progress, summed over the pass
    phases = {"add_batch": "addBatch", "query_planning": "queryPlanning",
              "latest_offset": "latestOffset", "wal_commit": "walCommit"}
    for tag, m in raw["stream"].items():
        if tag.endswith(f"@{p}"):
            vals["streaming.triggers"] += m.get("triggers", 0)
            for ours, theirs in phases.items():
                vals[f"streaming.{ours}_ms"] += m.get(theirs, 0)
    short = [o["ms"] for o in raw["ops"] if o["name"] in spec.SHORT_QUERIES]
    if short:
        vals["queries.short_p50_ms"] = stats.median(short)
        vals["queries.short_tail_ms"] = stats.tail(short)[1]
    # tracing overhead: trace.pass_s minus an untraced run's pass_s with
    # the same seed; trace.drain_s is the part spent draining the bus
    vals["trace.pass_s"] = pass_seconds(raw)[0]
    vals["trace.drain_s"] = raw["drain_s"]
    return {k: (v, units[k]) for k, v in vals.items()}


def load_pins():
    return json.loads(PINS.read_text()) if PINS.exists() else {}


def pin_failures(raw, pins, write):
    """Compares each op's output with its pin; returns failed op count."""
    table = pins.setdefault(raw["workload"], {})
    failed = 0
    for o in raw["ops"]:
        if not o["ok"] or raw["workload"] == "export_sync":
            continue
        seen = [o["rows"], o["hash"]] if o["hash"] else [o["rows"]]
        if write and o["name"] not in table:
            table[o["name"]] = seen
        if table.get(o["name"]) != seen:
            failed += 1
            log(f"MISMATCH {o['name']} pass {o['pass']}: {seen} "
                f"!= pinned {table.get(o['name'])}")
    return failed


def write_trace(raw, metrics, args):
    """Spans with their self times, and a per-name summary."""
    spans = raw["spans"]
    self_ms = stats.self_times(spans)
    summary = {}
    for s in spans:
        d = summary.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                           "self_ms": 0.0})
        d["count"] += 1
        d["total_ms"] += s["end"] - s["start"]
        d["self_ms"] += self_ms[s["id"]]
    OUT.mkdir(exist_ok=True)
    path = OUT / f"trace-{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps({
        "run_id": raw["run_id"], "workload": raw["workload"],
        "seed": raw["seed"], "config": raw["config"],
        "per_layer": {k: v for k, (v, _) in metrics.items()},
        "span_summary": summary,
        "spans": [dict(s, self_ms=self_ms[s["id"]]) for s in spans],
        "engine": raw["engine"], "stream": raw["stream"],
    }, indent=1))
    log(f"trace written to {path.relative_to(ROOT)}")


def write_manifest():
    doc = {
        "command": spec.COMMAND,
        "paths": spec.PATHS,
        "run_seconds": spec.RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in spec.WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in spec.END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in spec.per_layer()],
    }
    (ROOT / "BENCHMARK.json").write_text(json.dumps(doc, indent=2) + "\n")


def main():
    # a stop request unwinds through the finally blocks, which stop the
    # program and remove the run's working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-pins", action="store_true")
    ap.add_argument("--write-manifest", action="store_true")
    args = ap.parse_args()
    if args.write_manifest:
        write_manifest()
        return 0
    names = [n for n, _ in spec.WORKLOADS]
    if args.workload not in names:
        raise SystemExit(f"--workload must be one of {names}")

    start = time.time()
    stamp = source_stamp()
    # the first run of a checkout builds and generates the inputs
    cp = build(stamp, start + 840)
    data = ensure_data(cp, stamp, start + 880)
    deadline = time.time() + DEADLINE_S - 10

    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    raw_file = work / "raw.json"
    log_file = BUILD / f"run-{args.workload}.log"
    try:
        rc = java(cp, ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds),
                       "--trace", str(args.trace), "--fixture", str(FIXTURE),
                       "--data", str(data), "--cpus", str(cpus()),
                       "--tiers", ",".join(spec.TIER_ENTRIES),
                       "--short", ",".join(spec.SHORT_QUERIES),
                       "--loop", ",".join(spec.LOOP_QUERIES),
                       "--warm-tiers", ",".join(spec.WARM_TIERS),
                       "--warm-queries", ",".join(spec.WARM_QUERIES),
                       "--out", str(raw_file)], work, log_file, deadline)
        if rc != 0 or not raw_file.exists():
            raise SystemExit(f"benchmark program failed (exit {rc}); "
                             f"see {log_file.relative_to(ROOT)}")
        raw = json.loads(raw_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    by_name = {}
    for o in raw["ops"]:
        by_name.setdefault(o["name"], []).append(o["ms"])
    log("median ms per call: " + ", ".join(
        f"{k} {stats.median(v):.0f}" for k, v in by_name.items()))
    pins = load_pins()
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    failed += pin_failures(raw, pins, args.write_pins)
    failed += len(raw["mismatches"])
    attempted = len(raw["ops"]) + raw["checks"]
    if args.write_pins:
        PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")

    if args.trace:
        metrics = per_layer(raw)
        write_trace(raw, metrics, args)
    else:
        metrics, extra = end_to_end(raw)
        for name, (v, unit) in metrics.items():
            print(f"{name} = {v:.6g} {unit}")
        print(f"{extra['op_samples']} timed calls over {extra['passes']} "
              "passes")
    print("config: " + json.dumps(dict(raw["config"], seed=raw["seed"],
                                        source_stamp=stamp,
                                        heap=HEAP, **raw["info"])))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
