"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs ``perfbench/worker.py`` in a child process group under a scratch
directory inside the checkout, samples the peak RSS of the whole process
tree (the Python driver, the JVM and the Python workers), stops every
process it started, deletes the scratch directory and prints, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs a fixed schedule with the Spark event log on,
half of its ops traced, reports the per-layer metrics and the tracing
overhead, and writes the recorded spans to stderr as one JSON line.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "readwise_vector_db_spark"
SCRATCH = ROOT / ".perfbench_work"
DEADLINE_S = 170.0

# (name, unit); BENCHMARK.json lists the same names
END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("primary_p50_ms", "ms"),
    ("primary_tail_ms", "ms"),
    ("secondary_p50_ms", "ms"),
    ("recall", "ratio"),
    ("store_bytes_per_input_byte", "ratio"),
    ("peak_rss_mb", "MB"),
    ("ok_rate", "ratio"),
]

# what the generic names mean on each workload (printed beside them)
WORKLOAD_NAMES = {
    "serve": {"primary_p50_ms": "search_p50_ms", "primary_tail_ms": "search_tail_ms",
              "secondary_p50_ms": "filtered_p50_ms", "recall": "recall_at_10"},
    "curate": {"primary_p50_ms": "curate_p50_ms", "primary_tail_ms": "curate_tail_ms",
               "secondary_p50_ms": "clusters_p50_ms", "recall": "near_dup_recall"},
}

OPS = ("search", "filtered", "curate", "clusters")
_PER_OP = [
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.codegen_compiles_per_op", "count"),
    ("jvm.jit_ms_per_op", "ms"), ("jvm.gc_ms_per_op", "ms"),
    ("spark.executor_run_ms_per_op", "ms"), ("spark.executor_cpu_ms_per_op", "ms"),
    ("spark.shuffle_read_bytes_per_op", "bytes"), ("spark.shuffle_write_bytes_per_op", "bytes"),
    ("spark.spill_bytes_per_op", "bytes"), ("spark.driver_gap_ms_per_op", "ms"),
]
PER_LAYER = [
    *[(f"{layer}.{kind}", "ms") for kind in ("search", "filtered") for layer in (
        "api.search_self_ms", "functions.embed_query_ms", "sources.served_rows_ms")],
    ("sources.index_build_ms", "ms"),
    ("jobs.curate.score_ms", "ms"),
    ("jobs.curate.exact_ms", "ms"),
    ("jobs.curate.near_dup_ms", "ms"),
    ("jobs.curate.commit_ms", "ms"),
    ("jobs.curate.near_dup_dropped", "count"),
    *[(f"{name}.{kind}", unit) for name, unit in _PER_OP for kind in OPS],
    ("trace.overhead_ratio", "ratio"),
]


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgid) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            out[int(d)] = (int(rest[1]), int(rest[2]))
        except (OSError, IndexError, ValueError):
            pass
    return out


def _tree(root: int) -> set[int]:
    """``root`` and all its descendants, plus members of its process group."""
    table = _proc_table()
    members = {root} | {p for p, (_, pg) in table.items() if pg == root}
    grew = True
    while grew:
        grew = False
        for p, (pp, _) in table.items():
            if pp in members and p not in members:
                members.add(p)
                grew = True
    return {p for p in members if p in table}


def _rss_parts(pids: set[int], driver: int) -> dict[str, int]:
    """Resident bytes of the tree by part: the Python driver, the JVM, and
    the other processes (Python workers and launch helpers).  Each
    process counts its proportional set size, so pages that forked
    processes share count once."""
    parts = {"driver": 0, "jvm": 0, "workers": 0}
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
        part = "driver" if p == driver else "jvm" if comm == "java" else "workers"
        parts[part] += pss * 1024
    return parts


def _stop_tree(proc: subprocess.Popen) -> None:
    """Terminate whatever is left of the worker's tree and wait for it."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        left = _tree(proc.pid) - {os.getpid()}
        if not left:
            break
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while time.monotonic() < end and (_tree(proc.pid) - {os.getpid()}):
            if proc.poll() is None:
                try:
                    proc.wait(timeout=0.1)
                except subprocess.TimeoutExpired:
                    pass
            else:
                time.sleep(0.1)
    if proc.poll() is None:
        proc.wait()


def run_worker(args, workdir: Path, deadline: float) -> tuple[dict, float]:
    """Run the worker to completion; returns (its result, peak tree RSS MB)."""
    out = workdir / "result.json"
    tmp = workdir / "tmp"
    for d in (tmp, workdir / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts,
              "--conf", "spark.ui.showConsoleProgress=false"]
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", str(workdir), "--out", str(out)]
    if args.trace:
        events = workdir / "eventlog"
        events.mkdir()
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
        cmd += ["--event-dir", str(events)]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": str(workdir / "spark-local"),
        "TMPDIR": str(tmp),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
    })
    peak, peak_parts, seen = 0, {}, set()
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, start_new_session=True,
                            stdout=sys.stderr)
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                raise TimeoutError(f"{args.workload} worker exceeded the run deadline")
            # a process counts from its second sample on: a child between
            # fork and exec still maps its parent's memory
            pids = _tree(proc.pid)
            parts = _rss_parts(pids & (seen | {proc.pid}), proc.pid)
            seen = pids
            if sum(parts.values()) > peak:
                peak, peak_parts = sum(parts.values()), parts
            time.sleep(0.1)
    finally:
        _stop_tree(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    result = json.loads(out.read_text())
    result["diag"]["peak_rss_parts_mb"] = {k: v / 2**20 for k, v in peak_parts.items()}
    return result, peak / 2**20


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE.name} not found under {ROOT}", file=sys.stderr)
        return 2
    # a terminated runner still stops its process tree and deletes its
    # scratch directory (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    deadline = started + DEADLINE_S
    workdir = SCRATCH / f"{args.workload}-{args.seed}-{os.getpid()}"
    workdir.mkdir(parents=True)
    try:
        result, peak_mb = run_worker(args, workdir, deadline)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            SCRATCH.rmdir()
        except OSError:
            pass
    diag = result["diag"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{result['attempted']} ops attempted, {result['failed']} failed")
    print(f"  tail percentile {diag['tail_percentile']:.1f} over {diag['tail_n']} primary ops; "
          f"{diag['secondary_n']} secondary ops; timed wall {diag['timed_wall_s']:.2f} s")
    print(f"  host calibration {diag['calib_before_ms']:.1f} ms before, "
          f"{diag['calib_after_ms']:.1f} ms after; CPU steal {diag['steal_share']:.1%} "
          "during the timed phase (diagnostics only)")
    print(f"  phases: warm-up {diag['warmup_s']:.1f} s, workload {diag['workload_s']:.1f} s, "
          f"session stop {diag['stop_s']:.1f} s, run {time.monotonic() - started:.1f} s")
    print("  peak RSS by part (MB): " + ", ".join(
        f"{k} {v:.0f}" for k, v in diag["peak_rss_parts_mb"].items()))
    print("  primary-op block medians (ms): "
          + " ".join(f"{v:.0f}" for v in diag["block_medians_ms"]))
    if args.trace:
        print(json.dumps({"spans": result["spans"]}), file=sys.stderr)
        layers = result["layers"]
        print(f"  traced run: {layers['trace.spans']} spans recorded"
              + (f"; {layers['jobs.curate.near_dup_planted']} near copies planted"
                 if "jobs.curate.near_dup_planted" in layers else ""))
        values, table, title = layers, PER_LAYER, "per-layer metrics (traced run):"
    else:
        values = dict(result["metrics"], peak_rss_mb=peak_mb)
        table, title = END_TO_END, "end-to-end metrics:"
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in table}
    print(title)
    names = WORKLOAD_NAMES[args.workload]
    for name, m in metrics.items():
        alias = f"  ({names[name]})" if name in names else ""
        print(f"  {name:<40} {m['value']:>14.6g} {m['unit']}{alias}")
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
