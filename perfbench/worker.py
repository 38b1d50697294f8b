"""One workload in one fresh process: generate inputs, set up, warm up,
run the timed phase, check every op, and write the figures as JSON.

``run.py`` starts this module and reads its output; run that instead.
With ``--trace 1`` the timed phase is a fixed schedule whose ops
alternate, in blocks, between traced (spans, counters, a job group per
op) and untraced, so the tracing overhead is measured in the same
process; the timed figures of such a run are not the benchmark's.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

import numpy as np

from perfbench import gen
from perfbench.trace import Counters, Tracer, event_log_figures, median_or_zero, self_times

ROOT = Path(__file__).resolve().parents[1]

# Sizes and fixed schedule lengths.  The warm-up lengths are part of the
# benchmark definition and must be the same on two compared commits.
SERVE_DOCS, SERVE_DIM = 4500, 768
SERVE_WARMUP = 16            # requests before the timed phase
SERVE_CHECK_EVERY = 5        # every Nth timed response is checked
SERVE_TRACED_REQUESTS = 64   # fixed request count of a traced run
TRACE_BLOCK = 4              # traced runs alternate blocks of this many requests
CURATE_DOCS, CURATE_WORDS = 600, (25, 60)
CURATE_PAIRS = 1             # timed (curate, clusters) pairs
CURATE_TRACED_PAIRS = 2      # a traced run traces one pair and times one untraced
CURATE_MIN_NEAR_RECALL = 0.98
BLOCK = 10                   # primary ops per block of the block medians

OP_TYPES = ("search", "filtered", "curate", "clusters")


def calibrate() -> float:
    """Median ms of a fixed CPU block (Python loop + small matmul): a
    host-speed diagnostic recorded next to the timings, never used to
    drop or rescale them."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((160, 160))
    samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        for _ in range(20):
            a = np.tanh(a @ a.T / 160.0)
        samples.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(samples)


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(start: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole since ``start``: a host
    diagnostic, never used to drop or rescale a run."""
    steal, total = steal_ticks()
    return (steal - start[0]) / max(1, total - start[1])


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11."""
    s = sorted(values)
    n = len(s)
    if n >= 11:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def tree_bytes(root: Path) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


class Run:
    """Op bookkeeping shared by the workloads: wall time and correctness
    per op, and, for traced ops, a job group, counters and span context."""

    def __init__(self, args, workdir: Path):
        self.args = args
        self.workdir = workdir
        self.trace = args.trace == 1
        self.tracer = Tracer() if self.trace else None
        self.counters: Counters | None = None
        self.spark = None
        self.ops: list[dict] = []
        self.diag: dict = {}
        self.layers: dict[str, float] = {}

    def session(self):
        from readwise_vector_db_spark.session import get_spark

        self.spark = get_spark("perfbench")
        if self.trace:
            self.counters = Counters(self.spark)
        return self.spark

    def op(self, kind: str, fn, check, timed: bool = True, units: float = 0.0,
           traced: bool = False):
        """Run ``fn`` timed, then ``check(result)`` untimed.  A raised
        exception or a failed check counts as a failed op."""
        key = f"op{len(self.ops):04d}"
        sc = self.spark.sparkContext
        if traced:
            self.tracer.enabled = True
            self.tracer.op = key
            sc.setJobGroup(key, kind)
            before = self.counters.snapshot()
        ok, result = True, None
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        t1 = time.perf_counter()
        e1 = time.time()
        rec = {"kind": kind, "key": key, "ms": (t1 - t0) * 1e3, "timed": timed,
               "traced": traced, "units": units, "epoch": (e0 * 1e3, e1 * 1e3)}
        if traced:
            after = self.counters.snapshot()
            rec["counters"] = {**self.counters.group_counts(key),
                               **{k: after[k] - before[k] for k in after}}
            self.tracer.op = None
            self.tracer.enabled = False
            sc.setJobGroup("perfbench-untraced", "untraced")
        if ok:
            ok = self.check(kind, check, result)
        rec["ok"] = ok
        self.ops.append(rec)
        return result if ok else None

    @staticmethod
    def check(kind: str, check, result) -> bool:
        try:
            ok = bool(check(result))
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"check failed: {kind}", file=sys.stderr)
        return ok

    def counted(self, kind: str, ok: bool) -> None:
        """An untimed correctness check that counts as one attempted op."""
        self.ops.append({"kind": kind, "key": f"op{len(self.ops):04d}", "ms": 0.0,
                         "timed": False, "traced": False, "units": 0, "ok": ok,
                         "counted": True})

    def attempted(self) -> list[dict]:
        return [o for o in self.ops if o["timed"] or o.get("counted")]

    def timed_ops(self, kind: str | None = None, traced: bool | None = None) -> list[dict]:
        return [o for o in self.ops if o["timed"] and (kind is None or o["kind"] == kind)
                and (traced is None or o["traced"] == traced)]

    def summary(self, primary: str, secondary: str) -> dict:
        timed = self.timed_ops()
        p = [o["ms"] for o in self.timed_ops(primary)]
        s = [o["ms"] for o in self.timed_ops(secondary)]
        t_val, t_pct, t_n = tail(p)
        wall_s = sum(o["ms"] for o in timed) / 1e3
        tried = self.attempted()
        self.diag.update({
            "timed_wall_s": wall_s,
            "secondary_n": len(s),
            "tail_percentile": t_pct, "tail_n": t_n,
            "block_medians_ms": [statistics.median(p[i:i + BLOCK])
                                 for i in range(0, len(p), BLOCK)],
        })
        return {
            "throughput_per_s": sum(o["units"] for o in timed) / wall_s,
            "primary_p50_ms": statistics.median(p),
            "primary_tail_ms": t_val,
            "secondary_p50_ms": statistics.median(s),
            "ok_rate": sum(o["ok"] for o in tried) / len(tried),
        }

    def trace_layers(self, event_dir: Path) -> None:
        """Per-op-type medians over the traced ops of the op counters and
        the event-log figures, as ``<layer>.<metric>.<op>``, and the
        tracing overhead: per op type, the median traced op wall over the
        median untraced one, averaged over the op types."""
        ops = self.timed_ops(traced=True)
        figures = event_log_figures(event_dir, {o["key"]: o["epoch"] for o in ops})
        names = {
            "spark.jobs_per_op": ("counters", "jobs"),
            "spark.stages_per_op": ("counters", "stages"),
            "spark.tasks_per_op": ("counters", "tasks"),
            "spark.codegen_compiles_per_op": ("counters", "codegen"),
            "jvm.jit_ms_per_op": ("counters", "jit_ms"),
            "jvm.gc_ms_per_op": ("counters", "gc_ms"),
            "spark.executor_run_ms_per_op": ("events", "executor_run_ms"),
            "spark.executor_cpu_ms_per_op": ("events", "executor_cpu_ms"),
            "spark.shuffle_read_bytes_per_op": ("events", "shuffle_read_bytes"),
            "spark.shuffle_write_bytes_per_op": ("events", "shuffle_write_bytes"),
            "spark.spill_bytes_per_op": ("events", "spill_bytes"),
            "spark.driver_gap_ms_per_op": ("events", "driver_gap_ms"),
        }
        for kind in OP_TYPES:
            mine = [o for o in ops if o["kind"] == kind]
            for name, (src, field) in names.items():
                vals = [o["counters"][field] if src == "counters"
                        else figures[o["key"]][field] for o in mine]
                self.layers[f"{name}.{kind}"] = median_or_zero(vals)
        ratios = []
        for kind in OP_TYPES:
            on = [o["ms"] for o in self.timed_ops(kind, traced=True)]
            off = [o["ms"] for o in self.timed_ops(kind, traced=False)]
            if on and off:
                ratios.append(statistics.median(on) / statistics.median(off))
        self.layers["trace.overhead_ratio"] = statistics.mean(ratios)
        self.layers["trace.spans"] = len(self.tracer.spans)

    def span_layer(self, metric: str, span: str, kind: str | None, self_only: bool = False):
        """Median over traced ops of ``kind`` of the time spent in
        ``span`` per op (its self time when ``self_only``); ``kind=None``
        sums the spans recorded outside any op, such as set-up."""
        spans = self.tracer.spans
        durs = self_times(spans) if self_only else [s["end"] - s["start"] for s in spans]
        per_op: dict[str | None, float] = {}
        for s, d in zip(spans, durs):
            if s["name"] == span:
                per_op[s["op"]] = per_op.get(s["op"], 0.0) + d * 1e3
        if kind is None:
            self.layers[metric] = per_op.get(None, 0.0)
            return
        keys = [o["key"] for o in self.timed_ops(kind, traced=True)]
        self.layers[metric] = median_or_zero([per_op.get(k, 0.0) for k in keys])


# --- serve ------------------------------------------------------------------


def topk_matches(rows, ids: np.ndarray, scores: np.ndarray, allowed: np.ndarray,
                 k: int) -> tuple[bool, float]:
    """Compare a response with the exact top-k by (score, id) over the
    allowed rows.  The program rounds scores to 6 decimals, so a returned
    score may differ from the exact one by 1e-6 and ties at the k-th
    score may resolve either way.  Returns (ok, recall)."""
    pos = {int(i): j for j, i in enumerate(ids)}
    cand = np.flatnonzero(allowed)
    want = cand[np.lexsort((ids[cand], scores[cand]))][:k]
    if rows is None or not len(want):
        return False, 0.0
    kth, tol = scores[want[-1]], 2e-6
    hits, got = 0, []
    for r in rows:
        j = pos.get(int(r["id"]))
        if j is None or not allowed[j] or abs(scores[j] - r["score"]) > tol:
            return False, 0.0
        hits += scores[j] <= kth + tol
        got.append((r["score"], int(r["id"])))
    return (len(rows) == len(want) and hits == len(want) and got == sorted(got),
            hits / len(want))


def run_serve(run: Run) -> dict:
    args = run.args
    sf_dir = run.workdir / f"perfbench_serve_{args.seed}_{os.getpid()}"
    inp = gen.make_serve(args.seed, sf_dir, SERVE_DOCS, SERVE_DIM, n_requests=2000)
    vecs = inp.vectors.astype(np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    index_root = ROOT / ".warm_index"
    had_root = index_root.exists()

    t0 = time.perf_counter()
    spark = run.session()
    from readwise_vector_db_spark.api import service as service_mod
    from readwise_vector_db_spark.api.models import SearchRequest
    from readwise_vector_db_spark.functions.embedder import embed_text_local
    from readwise_vector_db_spark.sources import search_index

    if run.trace:
        tr = run.tracer
        tr.wrap(service_mod.SearchService, "search", "api.search")
        tr.wrap(service_mod, "embed_text_local", "functions.embed_query")
        tr.wrap(search_index, "served_search_rows", "sources.served_rows")
        tr.wrap(search_index, "build_search_index", "sources.index_build")
        tr.enabled = True  # set-up spans
    # the layout lives under the corpus directory's name, which is
    # already made of the characters a layout tag keeps
    tag_dir = index_root / sf_dir.name
    try:
        # force: a layout left behind by an earlier run must not turn the
        # build into a fingerprint check
        search_index.build_search_index(spark, str(sf_dir), force=True)
        svc = service_mod.SearchService(spark, str(sf_dir))
        setup_s = time.perf_counter() - t0
        if run.trace:
            run.tracer.enabled = False
        input_bytes = sum(p.stat().st_size for p in sf_dir.glob("*.parquet"))
        recalls: list[float] = []

        def checker(req: dict, check: bool):
            def ok(rows) -> bool:
                if not check:
                    return rows is not None and len(rows) <= 10
                q = np.asarray(embed_text_local(req["q"], dim=SERVE_DIM), dtype=np.float64)
                scores = 1.0 - (vecs @ q) / (norms * np.linalg.norm(q))
                allowed = np.ones(len(scores), dtype=bool)
                if "source_type" in req:
                    allowed &= inp.source == req["source_type"]
                if "lang" in req:
                    allowed &= inp.lang == req["lang"]
                good, recall = topk_matches(rows, inp.ids, scores, allowed, 10)
                recalls.append(recall)
                return good
            return ok

        reqs = iter(inp.requests)

        def one(n: int | None) -> None:
            """One request; ``n`` is its timed index, None in the warm-up."""
            req = next(reqs)
            kind = "filtered" if ("source_type" in req or "lang" in req) else "search"
            r = SearchRequest(**req)
            timed = n is not None
            run.op(kind, lambda: svc.search(r),
                   checker(req, timed and n % SERVE_CHECK_EVERY == 0), timed=timed,
                   units=1, traced=run.trace and timed and (n // TRACE_BLOCK) % 2 == 0)

        t_warm = time.perf_counter()
        for _ in range(SERVE_WARMUP):
            one(None)
        run.diag["warmup_s"] = time.perf_counter() - t_warm
        run.diag["calib_before_ms"] = calibrate()
        steal0 = steal_ticks()
        n = 0
        deadline = time.perf_counter() + args.seconds
        while (n < SERVE_TRACED_REQUESTS if run.trace else time.perf_counter() < deadline):
            one(n)
            n += 1
        run.diag["steal_share"] = steal_share(steal0)
        run.diag["calib_after_ms"] = calibrate()
        out = run.summary("search", "filtered")
        out.update({
            "setup_s": setup_s,
            "recall": float(np.mean(recalls)),
            "store_bytes_per_input_byte": tree_bytes(tag_dir) / input_bytes,
        })
        if run.trace:
            for kind in ("search", "filtered"):
                run.span_layer(f"api.search_self_ms.{kind}", "api.search", kind, self_only=True)
                run.span_layer(f"functions.embed_query_ms.{kind}", "functions.embed_query", kind)
                run.span_layer(f"sources.served_rows_ms.{kind}", "sources.served_rows", kind)
            run.span_layer("sources.index_build_ms", "sources.index_build", None)
        return out
    finally:
        shutil.rmtree(tag_dir, ignore_errors=True)
        if not had_root:
            shutil.rmtree(index_root, ignore_errors=True)


# --- curate -----------------------------------------------------------------


def duckdb_oracle_rows(oracle_sql: str, documents: Path, out: dict) -> None:
    """The registry's DuckDB oracle for ``dedup_clusters`` over the input,
    as sorted (doc_id, cluster_id, cluster_size) rows in ``out["rows"]``.
    The edge CTEs are marked MATERIALIZED so DuckDB computes the MinHash
    chain once instead of once per recursion step; the query is otherwise
    the registry's text."""
    import duckdb

    sql = re.sub(r"\b(mh_pairs|edges0|edges) AS \(", r"\1 AS MATERIALIZED (", oracle_sql)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}')")
        out["rows"] = sorted(tuple(r) for r in con.execute(
            f"SELECT doc_id, cluster_id, cluster_size FROM ({sql})").fetchall())
    except Exception:
        traceback.print_exc()
    finally:
        con.close()


def run_curate(run: Run) -> dict:
    args = run.args
    sf_dir = run.workdir / "curate_input"
    inp = gen.make_curate(args.seed, sf_dir, CURATE_DOCS, CURATE_WORDS)

    t0 = time.perf_counter()
    spark = run.session()
    import readwise_vector_db_spark.suites  # noqa: F401  (fills the registry)
    from readwise_vector_db_spark.jobs.curate import curate_corpus
    from readwise_vector_db_spark.operators.dedup import release_detector_cache
    from readwise_vector_db_spark.registry import all_oracle_sql, all_queries

    clusters = all_queries()["dedup_clusters"]
    setup_s = time.perf_counter() - t0
    # the oracle runs beside the warm-up, which is not measured, and is
    # joined before the timed phase starts
    oracle: dict = {}
    oracle_thread = threading.Thread(target=duckdb_oracle_rows, args=(
        all_oracle_sql()["dedup_clusters"], sf_dir / "documents.parquet", oracle))
    oracle_thread.start()
    outs = run.workdir / "curate_out"
    stage_walls: list[dict] = []
    near_dropped: list[int] = []
    n_curate = 0
    out_bytes = 0

    def cold() -> None:
        release_detector_cache()
        spark.catalog.clearCache()

    def curate_op(timed: bool, traced: bool = False) -> None:
        nonlocal n_curate, out_bytes
        out_root = outs / f"run{n_curate:03d}"
        n_curate += 1
        cold()

        def ok(stats) -> bool:
            clean = inp.n_docs - inp.n_junk - inp.n_foreign
            dropped = stats["after_exact_dedup"] - stats["after_near_dup"]
            if timed:
                near_dropped.append(dropped)
                if traced:
                    stage_walls.append(stats)
            want = {"raw": inp.n_docs, "after_quality": inp.n_docs - inp.n_junk,
                    "after_lang": clean, "after_exact_dedup": clean - inp.n_exact}
            good = (all(stats[k] == v for k, v in want.items())
                    and CURATE_MIN_NEAR_RECALL * inp.n_near <= dropped <= inp.n_near)
            if not good:
                print(f"curate accounting: got {stats}, want {want} and "
                      f"{inp.n_near} near copies dropped", file=sys.stderr)
            return good

        run.op("curate", lambda: curate_corpus(spark, str(sf_dir), str(out_root)), ok,
               timed=timed, units=inp.n_docs, traced=traced)
        out_bytes = tree_bytes(out_root)
        shutil.rmtree(out_root, ignore_errors=True)

    def clusters_op(timed: bool, traced: bool = False) -> None:
        cold()

        def go():
            clusters(spark, str(sf_dir)).write.format("noop").mode("overwrite").save()
            return True

        run.op("clusters", go, lambda r: r, timed=timed, units=inp.n_docs, traced=traced)

    t_warm = time.perf_counter()
    curate_op(False)
    cold()
    got = run.op("clusters", lambda: sorted(
        tuple(r) for r in clusters(spark, str(sf_dir))
        .select("doc_id", "cluster_id", "cluster_size").collect()),
        lambda rows: bool(rows), timed=False)
    oracle_thread.join()
    run.diag["warmup_s"] = time.perf_counter() - t_warm
    # once per run: the clusters rows against the registry's DuckDB oracle
    run.counted("clusters_oracle", Run.check(
        "clusters_oracle", lambda r: r is not None and r == oracle.get("rows"), got))
    run.diag["calib_before_ms"] = calibrate()
    steal0 = steal_ticks()
    for i in range(CURATE_TRACED_PAIRS if run.trace else CURATE_PAIRS):
        traced = run.trace and i % 2 == 0
        curate_op(True, traced)
        clusters_op(True, traced)
    run.diag["steal_share"] = steal_share(steal0)
    run.diag["calib_after_ms"] = calibrate()
    out = run.summary("curate", "clusters")
    out.update({
        "setup_s": setup_s,
        "recall": statistics.median(near_dropped) / inp.n_near,
        "store_bytes_per_input_byte": out_bytes / inp.input_bytes,
    })
    if run.trace:
        for stage in ("score", "exact", "near_dup", "commit"):
            run.layers[f"jobs.curate.{stage}_ms"] = median_or_zero(
                [w[f"wall_{stage}"] * 1e3 for w in stage_walls])
        run.layers["jobs.curate.near_dup_dropped"] = median_or_zero(near_dropped)
        run.layers["jobs.curate.near_dup_planted"] = inp.n_near
    return out


WORKLOADS = {"serve": run_serve, "curate": run_curate}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--event-dir")
    args = ap.parse_args()
    run = Run(args, Path(args.workdir))
    t0 = time.perf_counter()
    try:
        metrics = WORKLOADS[args.workload](run)
    finally:
        t1 = time.perf_counter()
        if run.spark is not None:
            run.spark.stop()
        if run.tracer is not None:
            run.tracer.uninstall()
        run.diag["workload_s"] = t1 - t0
        run.diag["stop_s"] = time.perf_counter() - t1
    if run.trace:
        run.trace_layers(Path(args.event_dir))
    tried = run.attempted()
    Path(args.out).write_text(json.dumps({
        "metrics": metrics,
        "attempted": len(tried),
        "failed": sum(not o["ok"] for o in tried),
        "layers": run.layers,
        "diag": run.diag,
        "spans": run.tracer.spans if run.tracer else [],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
