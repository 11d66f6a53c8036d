#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_curate --seed 1 --seconds 30 --trace 0

Builds the library and the JVM runner with sbt on first use (the runtime
classpath is cached under perfbench/target and rebuilt when a source
changes), then starts one JVM at local[<cores>] that sets up, warms up and
iterates the workload for --seconds. Prints a report of every named metric
(median, slow-tail percentile, sample count) and, as the last line, one JSON
object: end-to-end metrics with --trace 0, per-layer metrics from the span
trace with --trace 1.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark on JDK 17 outside spark-submit needs these opens (the same list the
# library build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Each workload's named metrics (sample name, unit, better) and which of
# them fills each generic end-to-end slot of BENCHMARK.json.
WORKLOADS = {
    "ingest_curate": {
        "named": [("ingest_pages_per_s", "1/s", "higher"), ("resume_s", "s", "lower"),
                  ("audit_s", "s", "lower"), ("curate_pages_per_s", "1/s", "higher"),
                  ("jaccard_docs_per_s", "1/s", "higher"), ("minhash_docs_per_s", "1/s", "higher")],
        "slots": {"primary_items_per_s": "ingest_pages_per_s",
                  "secondary_op_s": "curate_s", "tertiary_op_s": "neardup_s"},
    },
    "hierarchy_react": {
        "named": [("hier_nodes_per_s", "1/s", "higher"), ("to_state_s", "s", "lower"),
                  ("add_agent_s", "s", "lower"), ("react_step_s", "s", "lower"),
                  ("bfs_state_s", "s", "lower")],
        "slots": {"primary_items_per_s": "hier_nodes_per_s",
                  "secondary_op_s": "react_step_s", "tertiary_op_s": "bfs_state_s"},
    },
}

END_TO_END_UNITS = {"setup_s": "s", "primary_items_per_s": "1/s", "secondary_op_s": "s",
                    "tertiary_op_s": "s", "iteration_s": "s"}


# ---------------------------------------------------------------- statistics

def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def high_percentile(n):
    """The highest whole percentile above the median with at least ten
    samples beyond it, or None when the sample is too small."""
    p = math.floor(100 * (1 - 10 / n)) if n else 0
    return p if p > 50 else None


def summary(xs, better):
    """Median plus the slow-tail percentile the sample supports."""
    p = high_percentile(len(xs))
    tail = None if p is None else percentile(xs, p if better == "lower" else 100 - p)
    return {"median": statistics.median(xs), "p": p, "tail": tail, "n": len(xs)}


# ---------------------------------------------------------------- spans

def self_time_ns(span, children):
    """A span's duration minus the part of it its children cover."""
    s0, s1 = span["start_ns"], span["end_ns"]
    covered, cur_s, cur_e = 0, None, None
    for c in sorted(children, key=lambda c: c["start_ns"]):
        a, b = max(c["start_ns"], s0), min(c["end_ns"], s1)
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (s1 - s0) - covered


class Trace:
    """Spans of one traced iteration (one `run` id), by name."""

    def __init__(self, spans):
        self.spans = spans
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)
        self.by_name = {}
        for s in spans:
            self.by_name.setdefault(s["name"], []).append(s)

    def has(self, name):
        return name in self.by_name

    def self_s(self, name):
        return sum(self_time_ns(s, self.kids.get(s["id"], [])) for s in self.by_name.get(name, [])) / 1e9

    def dur_s(self, name):
        return sum(s["end_ns"] - s["start_ns"] for s in self.by_name.get(name, [])) / 1e9

    def counter(self, name, key):
        return sum(s["counters"].get(key, 0) for s in self.by_name.get(name, []))

    def attr(self, name, key):
        return sum(s["attrs"].get(key, 0) for s in self.by_name.get(name, []))

    def subtree(self, name, key):
        """A counter summed over a span and all its descendants."""
        total, todo = 0, list(self.by_name.get(name, []))
        while todo:
            s = todo.pop()
            total += s["counters"].get(key, 0)
            todo.extend(self.kids.get(s["id"], []))
        return total


def ratio(a, b):
    return a / b if b else 0.0


# (name, unit, better, span that must be present, value of one traced iteration)
PER_LAYER = [
    ("sources.warc_read_s", "s", "lower", "sources.warc_read", lambda t, c: t.self_s("sources.warc_read")),
    ("web.geoparse_s", "s", "lower", "web.geoparse", lambda t, c: t.self_s("web.geoparse")),
    ("web.geoparse_hit_ratio", "ratio", "higher", "web.geoparse", lambda t, c: t.attr("web.geoparse", "hit_ratio")),
    ("spatial.index_build_s", "s", "lower", "spatial.index_build", lambda t, c: t.self_s("spatial.index_build")),
    ("spatial.assign_s", "s", "lower", "spatial.assign", lambda t, c: t.self_s("spatial.assign")),
    ("spatial.snap_hit_ratio", "ratio", "higher", "spatial.assign", lambda t, c: t.attr("spatial.assign", "snap_hit_ratio")),
    ("lineage.commit_s", "s", "lower", "lineage.commit", lambda t, c: t.self_s("lineage.commit")),
    ("lineage.commit_jobs", "count", "lower", "lineage.commit", lambda t, c: t.counter("lineage.commit", "jobs")),
    ("lineage.files_written", "count", "lower", "lineage.commit", lambda t, c: t.attr("lineage.commit", "files_written")),
    ("lineage.bytes_written", "bytes", "lower", "lineage.commit", lambda t, c: t.attr("lineage.commit", "bytes_written")),
    ("lineage.write_task_skew", "ratio", "lower", "lineage.commit", lambda t, c: t.counter("lineage.commit", "task_skew")),
    ("lineage.uniform_commit_s", "s", "lower", "lineage.commit_uniform",
     lambda t, c: t.self_s("lineage.commit_uniform")),
    ("lineage.uniform_commit_jobs", "count", "lower", "lineage.commit_uniform",
     lambda t, c: t.counter("lineage.commit_uniform", "jobs")),
    ("lineage.uniform_files_written", "count", "lower", "lineage.commit_uniform",
     lambda t, c: t.attr("lineage.commit_uniform", "files_written")),
    ("lineage.uniform_bytes_written", "bytes", "lower", "lineage.commit_uniform",
     lambda t, c: t.attr("lineage.commit_uniform", "bytes_written")),
    ("lineage.uniform_write_task_skew", "ratio", "lower", "lineage.commit_uniform",
     lambda t, c: t.counter("lineage.commit_uniform", "task_skew")),
    ("lineage.resume_s", "s", "lower", "lineage.resume", lambda t, c: t.self_s("lineage.resume")),
    ("lineage.resume_jobs", "count", "lower", "lineage.resume", lambda t, c: t.counter("lineage.resume", "jobs")),
    ("lineage.resume_input_rows", "count", "lower", "lineage.resume", lambda t, c: t.counter("lineage.resume", "max_output_rows")),
    ("lineage.audit_s", "s", "lower", "lineage.audit", lambda t, c: t.self_s("lineage.audit")),
    ("text.quality_s", "s", "lower", "text.quality", lambda t, c: t.self_s("text.quality")),
    ("text.quality_pass_ratio", "ratio", "higher", "text.quality", lambda t, c: t.attr("text.quality", "pass_ratio")),
    ("text.dedup_s", "s", "lower", "text.dedup", lambda t, c: t.self_s("text.dedup")),
    ("text.dedup_collapse_ratio", "ratio", "higher", "text.dedup", lambda t, c: t.attr("text.dedup", "collapse_ratio")),
    ("text.dedup_shuffle_bytes", "bytes", "lower", "text.dedup", lambda t, c: t.counter("text.dedup", "shuffle_write_bytes")),
    ("text.annotate_s", "s", "lower", "text.annotate", lambda t, c: t.self_s("text.annotate")),
    ("text.jaccard_s", "s", "lower", "text.jaccard", lambda t, c: t.self_s("text.jaccard")),
    ("text.jaccard_jobs", "count", "lower", "text.jaccard", lambda t, c: t.counter("text.jaccard", "jobs")),
    ("text.jaccard_shuffle_bytes", "bytes", "lower", "text.jaccard", lambda t, c: t.counter("text.jaccard", "shuffle_write_bytes")),
    ("text.jaccard_task_skew", "ratio", "lower", "text.jaccard", lambda t, c: t.counter("text.jaccard", "task_skew")),
    ("text.jaccard_candidates", "count", "lower", "text.jaccard", lambda t, c: t.attr("text.jaccard", "candidates")),
    ("text.jaccard_precision", "ratio", "higher", "text.jaccard", lambda t, c: t.attr("text.jaccard", "precision")),
    ("text.minhash_s", "s", "lower", "text.minhash", lambda t, c: t.self_s("text.minhash")),
    ("text.minhash_jobs", "count", "lower", "text.minhash", lambda t, c: t.counter("text.minhash", "jobs")),
    ("text.minhash_recall", "ratio", "higher", "text.minhash", lambda t, c: t.attr("text.minhash", "recall")),
    ("hier.build_plan_s", "s", "lower", "hier.build", lambda t, c: t.self_s("hier.build")),
    ("hier.stats_s", "s", "lower", "hier.stats", lambda t, c: t.self_s("hier.stats")),
    ("hier.jobs", "count", "lower", "hier", lambda t, c: t.subtree("hier", "jobs")),
    ("hier.stages", "count", "lower", "hier", lambda t, c: t.subtree("hier", "stages")),
    ("hier.shuffle_write_bytes", "bytes", "lower", "hier", lambda t, c: t.subtree("hier", "shuffle_write_bytes")),
    ("bigraph.to_state_s", "s", "lower", "bigraph.to_state", lambda t, c: t.self_s("bigraph.to_state")),
    ("bigraph.jobs", "count", "lower", "bigraph.to_state", lambda t, c: t.counter("bigraph.to_state", "jobs")),
    ("react.add_agent_s", "s", "lower", "react.add_agent", lambda t, c: t.self_s("react.add_agent")),
    ("react.sim_step_s", "s", "lower", "react.sim",
     lambda t, c: ratio(t.self_s("react.sim"), t.attr("react.sim", "steps"))),
    ("react.jobs_per_step", "count", "lower", "react.sim",
     lambda t, c: ratio(t.counter("react.sim", "jobs"), t.attr("react.sim", "steps"))),
    ("react.bfs_state_s", "s", "lower", "react.bfs",
     lambda t, c: ratio(t.self_s("react.bfs"), t.attr("react.bfs", "states"))),
    ("react.bfs_jobs_per_state", "count", "lower", "react.bfs",
     lambda t, c: ratio(t.counter("react.bfs", "jobs"), t.attr("react.bfs", "states"))),
    ("react.full_state_collects", "count", "lower", "react.bfs", lambda t, c: t.attr("react.bfs", "full_state_collects")),
    ("driver_idle_s", "s", "lower", "iteration",
     lambda t, c: t.dur_s("iteration") - t.subtree("iteration", "stage_busy_ms") / 1e3),
    ("executor_busy_share", "ratio", "higher", "iteration",
     lambda t, c: ratio(t.subtree("iteration", "executor_run_ms"), t.dur_s("iteration") * 1e3 * c)),
    ("gc_s", "s", "lower", "iteration", lambda t, c: t.attr("iteration", "gc_ms") / 1e3),
    ("spill_bytes", "bytes", "lower", "iteration", lambda t, c: t.subtree("iteration", "spill_bytes")),
    ("jvm.peak_heap_mb", "MB", "lower", "iteration", lambda t, c: t.attr("iteration", "heap_peak_mb")),
]
KERNELS = [("cells.cell_of_ns", "cells.cell_of"), ("cells.disk_ns", "cells.disk"),
           ("cells.haversine_ns", "cells.haversine"), ("spatial.resolve_ns", "spatial.resolve"),
           ("spatial.nearest_ns", "spatial.nearest")]


def per_layer(spans, result, cores):
    """Per-layer metrics: the median over traced iterations of each value;
    0 for a layer the workload does not call."""
    runs = {}
    for s in spans:
        runs.setdefault(s["run"], []).append(s)
    traced = [Trace(v) for k, v in runs.items() if k.startswith("it")]
    kernels = [Trace(v) for k, v in runs.items() if k.startswith("kernels")]
    out = {}
    for name, unit, _, need, fn in PER_LAYER:
        vals = [fn(t, cores) for t in traced if t.has(need)]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    for name, span in KERNELS:
        vals = [t.attr(span, "ns_per_call") for t in kernels if t.has(span)]
        out[name] = (statistics.median(vals) if vals else 0.0, "ns")
    walls_t, walls_u = result["traced_iteration_s"], result["untraced_iteration_s"]
    out["trace.overhead_s"] = (statistics.median(walls_t) - statistics.median(walls_u), "s")
    return out


# ---------------------------------------------------------------- build + run

def host_shape():
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    # the same heap rule as the tier-1 test command: half of RAM, 2..8 GB
    gb = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cores, gb


def sources_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """The runtime classpath; runs sbt only when a source changed."""
    cp_file, stamp = HERE / "target" / "classpath.txt", HERE / "target" / "classpath.stamp"
    digest = sources_digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        cp = cp_file.read_text().split("\n")
        if all(Path(p).exists() for p in cp):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    stamp.write_text(digest)
    return cp_file.read_text().split("\n")


def run_jvm(cp, args, cores, heap_gb, run_dir):
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    (run_dir / "tmp").mkdir(parents=True)
    cmd = [java, f"-Xmx{heap_gb}g", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", ":".join(cp), "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores), "--run-dir", str(run_dir)]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not (run_dir / "result.json").exists():
        sys.exit(f"perfbench: runner failed (exit {code})")
    return json.loads((run_dir / "result.json").read_text())


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: the library sources (build.sbt, src/main/scala) are not beside perfbench/")

    cp = build()
    cores, heap_gb = host_shape()
    run_dir = HERE / ".runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res = run_jvm(cp, args, cores, heap_gb, run_dir)
        spans = []
        if args.trace:
            text = (run_dir / "spans.jsonl").read_text()
            spans = [json.loads(line) for line in text.splitlines() if line.strip()]
            traces = HERE / ".traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{args.workload}-seed{args.seed}.jsonl").write_text(text)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    spec = WORKLOADS[args.workload]
    samples = res["samples"]
    setup_s = res["session_s"] + statistics.median(res["inputs_s"]) + (res["warm_s"] or 0.0)
    print(f"perfbench {args.workload} seed={args.seed} cores={cores} heap={heap_gb}g "
          f"spark={res['spark_version']} trace={args.trace} config: {res['config']}")
    print(f"  setup_s {setup_s:.4f} s (session {res['session_s']:.3f} + inputs median of "
          f"{len(res['inputs_s'])} {statistics.median(res['inputs_s']):.3f} + warm {fmt(res['warm_s'])})")
    print(f"  failed_op_share {ratio(res['failed'], res['attempted']):.4f} "
          f"({res['failed']} of {res['attempted']} ops)")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    complete = res["warm_s"] is not None and all(
        samples.get(n) for n in list(spec["slots"].values()) + ["iteration_s"])
    if not args.trace:
        for name, unit, better in spec["named"] + [("iteration_s", "s", "lower")]:
            if samples.get(name):
                s = summary(samples[name], better)
                tail = "n/a (n<21)" if s["p"] is None else f"p{s['p'] if better == 'lower' else 100 - s['p']}={fmt(s['tail'])}"
                print(f"  {name} median={fmt(s['median'])} {unit} {tail} n={s['n']}")
        metrics = {"setup_s": setup_s}
        if complete:
            metrics.update({slot: statistics.median(samples[n]) for slot, n in spec["slots"].items()})
            metrics["iteration_s"] = statistics.median(samples["iteration_s"])
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    else:
        layers = per_layer(spans, res, cores)
        for name, (v, unit) in layers.items():
            print(f"  {name} {fmt(v)} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    correct = complete and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
