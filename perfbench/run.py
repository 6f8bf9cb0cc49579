#!/usr/bin/env python3
"""Seeded benchmark of the graft engine.

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while no
source changed. One JVM on local[nproc] runs the workload as a closed loop
of one client; this script turns its raw samples into the report and
prints, as the last line of standard output, one JSON object with the keys
correct, attempted, failed and metrics. See perfbench/README.md.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
# geoarrow_io and iterative_ops run on demand; BENCHMARK.json gates the
# other two (see README.md).
WORKLOADS = ("join_tile", "geoarrow_io", "snapshot_table", "iterative_ops")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
# A fixed young generation keeps the heap's growth, hence peak_rss_mb, from
# depending on the collector's adaptive sizing; no perf-data file in /tmp.
JVM_FLAGS = ["-Xmx3g", "-Xmn512m", "-XX:-UsePerfData"]

END_TO_END = [("setup_s", "s"), ("rows_per_s", "rows/s"), ("peak_rss_mb", "MB")]

# Operation spans of each layer, named as the harness names them.
OPERATOR_OPS = ("knn", "dbscan", "kcore", "pagerank")
PIPELINE_OPS = ("write", "merge", "delete", "read_current", "read_box", "compact",
                "resume")
SELF_LAYERS = ("bench", "sources", "sql", "operators", "pipeline", "spark")
# (metric, unit, listener counter summed per cycle, scale)
CYCLE_COUNTERS = [
    ("plans.analysis_ms", "ms", "analysis_ms", 1),
    ("plans.optimizer_ms", "ms", "optimizer_ms", 1),
    ("plans.planning_ms", "ms", "planning_ms", 1),
    ("plans.kernel_nodes", "count", "kernel_nodes", 1),
    ("sched.jobs", "count", "jobs", 1),
    ("sched.stages", "count", "stages", 1),
    ("sched.tasks", "count", "tasks", 1),
    ("sched.scheduler_delay_ms", "ms", "scheduler_delay_ms", 1),
    ("sched.task_cpu_s", "s", "task_cpu_ns", 1e-9),
    ("sched.gc_ms", "ms", "gc_ms", 1),
    ("shuffle.write_bytes", "B", "shuffle_write_bytes", 1),
    ("shuffle.read_bytes", "B", "shuffle_read_bytes", 1),
    ("shuffle.fetch_wait_ms", "ms", "fetch_wait_ms", 1),
    ("spill.bytes", "B", "spill_bytes", 1),
    ("io.bytes_written", "B", "io_bytes_written", 1),
    ("io.bytes_read", "B", "bytes_read", 1),
    ("io.files_written", "count", "io_files_written", 1),
]
MICRO = ["core.pip_ns", "core.tile_ns", "core.cell_ns", "core.wkt_parse_ns",
         "core.wkt_write_ns", "core.wkb_parse_ns", "core.wkb_write_ns",
         "sql.encode_ns", "sql.decode_ns"]

# Every per-layer figure of a traced run, all printed in its report.
LAYER_FIGURES = (
    [(m, "ns") for m in MICRO]
    + [(m, u) for m, u, _, _ in CYCLE_COUNTERS]
    + [("sched.utilization", "ratio"), ("sched.max_task_ms", "ms"),
       ("operators.pip.refine_hit_ratio", "ratio"),
       ("operators.knn.rounds", "count"), ("operators.knn.retired", "count")]
    + [(f"operators.{op}.{k}", u) for op in OPERATOR_OPS
       for k, u in (("wall_ms", "ms"), ("jobs", "count"))]
    + [(f"pipeline.{op}.{k}", u) for op in PIPELINE_OPS
       for k, u in (("wall_ms", "ms"), ("jobs", "count"))]
    + [("pipeline.data_files_before_compact", "count"),
       ("pipeline.data_files_after_compact", "count")]
    + [(f"self.{layer}_ms", "ms") for layer in SELF_LAYERS]
    + [("trace.overhead_ms", "ms")]
)
# The JSON line carries the figures that every workload of BENCHMARK.json
# measures; times that are zero by construction on one of them (a layer it
# never calls, the kNN loop of iterative_ops, local-mode fetch waits) stay in
# the report lines only.
REPORT_ONLY = (
    {"sched.gc_ms", "shuffle.fetch_wait_ms", "operators.knn.rounds", "operators.knn.retired"}
    | {f"operators.{op}.{k}" for op in OPERATOR_OPS for k in ("wall_ms", "jobs")}
    | {f"pipeline.{op}.wall_ms" for op in PIPELINE_OPS}
    | {f"self.{layer}_ms" for layer in SELF_LAYERS if layer != "bench"}
)
PER_LAYER = [(n, u) for n, u in LAYER_FIGURES if n not in REPORT_ONLY]

# Each workload's own figures, printed in the report:
# (name, unit, kind, op names). "rate": input rows over the median op wall;
# "p50": median op wall in seconds; "cycle_sum": median per-cycle sum.
WORKLOAD_FIGURES = {
    "join_tile": [("pass_s", "s", "p50", ["operators.join_tile_pass"])],
    "geoarrow_io": [("write_rows_per_s", "rows/s", "rate", ["sources.write_leg"]),
                    ("read_rows_per_s", "rows/s", "rate", ["sources.read_leg"])],
    "snapshot_table": [
        ("commit_s_p50", "s", "p50", ["pipeline.write", "pipeline.merge",
                                      "pipeline.delete", "pipeline.resume"]),
        ("read_s_p50", "s", "p50", ["pipeline.read_current", "pipeline.read_box"]),
        ("compact_s_p50", "s", "p50", ["pipeline.compact"])],
    "iterative_ops": [("knn_s_p50", "s", "p50", ["operators.knn"]),
                      ("cluster_s_p50", "s", "p50", ["operators.dbscan"]),
                      ("graph_s_p50", "s", "cycle_sum",
                       ["operators.kcore", "operators.pagerank"])],
}


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- processes

_children = []


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    sys.exit(130)


def run_bounded(cmd, cwd, limit_s, env=None):
    """Runs `cmd` in its own process group with its output on our stderr;
    kills the group if it outlives `limit_s`. Returns the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr.fileno(),
                         stderr=sys.stderr.fileno(), start_new_session=True)
    _children.append(p)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit_s:.0f} s; stopping it")
        os.killpg(p.pid, signal.SIGTERM)
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        return None
    finally:
        _children.remove(p)


# -------------------------------------------------------------------- build

def source_stamp():
    """Hash of every input of the build: the engine's and the harness's."""
    h = hashlib.sha256()
    files = [REPO / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted(p for p in (REPO / "project").glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for root in (REPO / "src" / "main", HERE / "src"):
        files += sorted(p for p in root.rglob("*") if p.is_file())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(REPO)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(deadline):
    launch = HERE / "target" / "launch.txt"
    stamp_file = HERE / "target" / "launch.stamp"
    stamp = source_stamp()
    if launch.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return launch
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt is not on PATH")
    log("building the engine and the harness with sbt")
    rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "writeLaunch"],
                     HERE, deadline - time.monotonic())
    if rc != 0 or not launch.is_file():
        raise RuntimeError(f"sbt build failed (exit {rc})")
    stamp_file.write_text(stamp)
    return launch


# ------------------------------------------------------------------ host noise

def steal_jiffies():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ------------------------------------------------------------------- metrics

def op_walls(res, phases, names):
    """Times of the calls that completed; a wrong output still took its time."""
    return [o["wall_ns"] / 1e9 for o in res["ops"]
            if o["phase"] in phases and o["name"] in names and not o["threw"]]


def cycle_walls(res, phases):
    return [c["wall_ns"] / 1e9 for c in res["cycles"] if c["phase"] in phases and c["complete"]]


def end_to_end(res, phases):
    return {
        "setup_s": stats.median(res["setup_s"]),
        "rows_per_s": res["input_rows"] / stats.median(cycle_walls(res, phases)),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }


def workload_figures(res, phases):
    """The workload's own figures: (name, unit, value, stats.summary of the
    samples behind the value)."""
    out = []
    for name, unit, kind, ops in WORKLOAD_FIGURES[res["workload"]]:
        if kind == "cycle_sum":
            per_cycle = {}
            for o in res["ops"]:
                if o["phase"] in phases and o["name"] in ops and not o["threw"]:
                    per_cycle[o["cycle"]] = per_cycle.get(o["cycle"], 0.0) + o["wall_ns"] / 1e9
            walls = list(per_cycle.values())
        else:
            walls = op_walls(res, phases, ops)
        if not walls:
            continue
        s = stats.summary(walls)
        value = res["input_rows"] / s["median"] if kind == "rate" else s["median"]
        out.append((name, unit, value, s))
    stored = res["notes"].get("stored_bytes_per_row")
    if stored:
        out.append(("stored_bytes_per_row", "B", stats.median(stored), {"n": len(stored)}))
    return out


def per_layer(res, spans):
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(i):
        todo, out = [i], []
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(kids.get(j, []))
        return out

    def inclusive(i, key, agg=sum):
        return agg([by_id[j]["counters"].get(key, 0.0) for j in subtree(i)])

    def med(values):
        return stats.median(values) if values else 0.0

    selfs = stats.self_times([s for s in spans if s["id"] >= 0])
    cycles = [s["id"] for s in spans if s["name"] == "cycle"]
    cores = res["cores"]
    m = {name: res["micro"].get(name, 0.0) for name in MICRO}
    for name, _, key, scale in CYCLE_COUNTERS:
        m[name] = med([inclusive(c, key) * scale for c in cycles])
    m["sched.utilization"] = med([
        inclusive(c, "task_cpu_ns") * 1e-9
        / ((by_id[c]["end_ns"] - by_id[c]["start_ns"]) * 1e-9 * cores) for c in cycles])
    m["sched.max_task_ms"] = med([inclusive(c, "max_task_ms", max) for c in cycles])
    m["operators.pip.refine_hit_ratio"] = res["extras"].get("operators.pip.refine_hit_ratio", 0.0)
    for note in ("operators.knn.rounds", "operators.knn.retired",
                 "pipeline.data_files_before_compact", "pipeline.data_files_after_compact"):
        m[note] = med(res["notes"].get(note, []))
    for layer, ops in (("operators", OPERATOR_OPS), ("pipeline", PIPELINE_OPS)):
        for op in ops:
            name = f"{layer}.{op}"
            m[f"{name}.wall_ms"] = med([w * 1e3 for w in op_walls(res, ("traced",), (name,))])
            m[f"{name}.jobs"] = med([inclusive(s["id"], "jobs") for s in spans if s["name"] == name])
    def layer_of(name):
        return "bench" if name == "cycle" else name.split(".")[0]

    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = med([
            sum(selfs[j] for j in subtree(c) if layer_of(by_id[j]["name"]) == layer) / 1e6
            for c in cycles])
    m["trace.overhead_ms"] = 1e3 * (stats.median(cycle_walls(res, ("traced",)))
                                    - stats.median(cycle_walls(res, ("untraced",))))
    return m


# ---------------------------------------------------------------------- main

def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + BUILD_LIMIT_S

    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    if not ((REPO / "build.sbt").is_file() and (REPO / "src" / "main" / "scala" / "graft").is_dir()):
        log(f"no engine sources under {REPO}; nothing to benchmark")
        return 2
    try:
        launch = build(deadline)
    except RuntimeError as e:
        log(str(e))
        return 3

    lines = launch.read_text().splitlines()
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans_path = HERE / "out" / f"spans-{a.workload}-seed{a.seed}.jsonl"
    result_path = work / "result.json"
    java = shutil.which("java") or "java"
    cmd = [java, *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           *lines[1:], "-cp", lines[0], "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--dir", str(work / "data"),
           "--out", str(result_path), "--spans", str(spans_path)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))

    load = loadavg()
    steal0 = steal_jiffies()
    t0 = time.monotonic()
    try:  # also when a signal stops the run
        rc = run_bounded(cmd, REPO, RUN_LIMIT_S - 5, env=env)
        wall = time.monotonic() - t0
        steal = steal_jiffies() - steal0
        if rc != 0 or not result_path.is_file():
            log(f"the benchmark JVM failed (exit {rc})")
            return 4
        res = json.loads(result_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    for o in res["ops"]:
        if not o["ok"]:
            log(f"FAILED [{o['phase']} cycle {o['cycle']}] {o['error']}")

    measured = ("measure",) if a.trace == 0 else ("untraced",)
    e2e = end_to_end(res, measured)
    report = [
        f"workload {a.workload} seed {a.seed} trace {a.trace}: {res['input_rows']} input rows, "
        f"local[{res['cores']}], one closed-loop client, run wall {wall:.1f} s "
        f"(oracles {res['expect_s']:.1f} s)",
        f"noise: steal_jiffies {steal} during the run, loadavg at start {load}",
        f"setup_s {e2e['setup_s']:.4f} s (median, n={len(res['setup_s'])}: "
        f"{', '.join(f'{x:.3f}' for x in res['setup_s'])})",
        f"rows_per_s {e2e['rows_per_s']:.1f} rows/s "
        f"(n={len(cycle_walls(res, measured))} cycles)",
        f"peak_rss_mb {e2e['peak_rss_mb']:.1f} MB",
        f"warmup_s {res['warmup_s']:.4f} s (the warm-up cycles after the set-ups)",
        f"fail_ratio {stats.fail_ratio(failed, attempted):.4f} ratio "
        f"({failed} of {attempted} operations failed)",
    ]
    for name, unit, value, s in workload_figures(res, measured):
        tail = f", p{s['p']} {s['p_value']:.4f}" if "p" in s else ""
        report.append(f"{name} {value:.4f} {unit} (n={s['n']}{tail})")

    if a.trace == 0:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        spans = [json.loads(line) for line in spans_path.read_text().splitlines() if line]
        layer = per_layer(res, spans)
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
        report.append(f"spans: {spans_path.relative_to(REPO)}")
        report += [f"{n} {layer[n]:.4f} {u}" for n, u in LAYER_FIGURES]
    for line in report:
        print(f"perfbench: {line}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
