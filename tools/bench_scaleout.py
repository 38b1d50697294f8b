"""Measure serving scale-out with REAL second processes (r5 verdict #2).

Round 5 left two tails resting on an unmeasured "add a JVM behind a
balancer" argument: the reference-config 20-user HTTP P95 and the
3072-d 6-user in-process P95 (fold-CPU contention).  This harness
measures them:

Part 1 — HTTP, sf0.1, 20 users x reps, POST /search (the locust gate's
protocol), free-text queries so nothing memoizes:
  A: 1 worker JVM, local[32]
  B: 2 worker JVMs, local[16] each (same 32 cores split)
  C: 2 worker JVMs, local[32] each (oversubscribed)
Users are pinned round-robin to backends (an ideal sticky balancer —
no proxy hop in the number; a real balancer adds its own cost).

Part 2 — in-process served_search_sql at 3072-d, 6 users total:
  A: 1 worker running 6 user threads
  B: 2 workers running 3 user threads each, started simultaneously

Workers start SEQUENTIALLY so the first builds/validates the shared
warm layout and the rest attach (no build race).  Run nothing else
while this runs (host-stall methodology: report P50/P95 + QPS; compare
runs by band, not point).

Part 3 (round 8) — FILTERED composed serving at the reference config
(2 JVMs x local[16], 20 HTTP users, 3072-d, real proxy, IVF probe):
mask-hit / mask-cold (the in-process mask path).

Usage: python tools/bench_scaleout.py [http|inproc|ivf|composed|filtered|all]
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF3072 = os.environ.get("RWVDB_SF3072_DIR", "/tmp/sf3072")


def pct(xs: list[float], p: float) -> float:
    return xs[min(len(xs) - 1, int(p * len(xs)))]


def _spawn_http(
    sf_dir: str, port: int, cores: int, variant: str = "exact"
) -> subprocess.Popen:
    proc = subprocess.Popen(
        [sys.executable, f"{REPO}/tools/serving_worker.py", "http", sf_dir,
         str(port), str(cores), variant],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    deadline = time.time() + 180
    while time.time() < deadline:
        line = proc.stdout.readline()
        if line.startswith("READY"):
            return proc
        if proc.poll() is not None:
            raise RuntimeError(f"worker died rc={proc.returncode}")
    raise TimeoutError("worker did not become ready")


def _post(url: str, q: str, extra: dict | None = None) -> None:
    body = {"q": q, "k": 10}
    if extra:
        body.update(extra)
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        resp.read()


# Filter mixes for the FILTERED composed study (r7 verdict item 3).
# Values are real sf0.1 metadata: lang 'en' ≈ 41 % of the corpus (the
# broad filter that always exceeded the round-7 100k-id cap at scale),
# source_type 'src3' ≈ 5 %, the tag words ≈ 4 % each.
_FILTER_HIT_SET = [
    {"lang": "en"},
    {"source_type": "src3"},
    {"tags": ["spark", "hash"]},
    {"lang": "en", "tags": ["stream"]},
]


def _filter_for(mode: str | None, wave: int, uid: int, i: int) -> dict | None:
    if mode is None:
        return None
    if mode == "hit":  # small repeating set → steady-state cache/mask hits
        return _FILTER_HIT_SET[(uid + i) % len(_FILTER_HIT_SET)]
    if mode == "cold":  # DISTINCT filter per request → every one a miss
        return {"tags": ["spark", f"nonce-{wave}-{uid}-{i}"]}
    raise ValueError(mode)


def bench_http(
    n_workers: int, cores: int, users: int = 20, reps: int = 15,
    via_proxy: bool = False, sf_dir: str = SF01, variant: str = "exact",
    filters_mode: str | None = None,
) -> dict:
    ports = [18600 + i for i in range(n_workers)]
    procs = []
    proxy = None
    try:
        for p in ports:  # sequential: first worker builds, rest attach
            procs.append(_spawn_http(sf_dir, p, cores, variant))
        urls = [f"http://127.0.0.1:{p}/search" for p in ports]
        if via_proxy:
            # a REAL balancer hop (tools/rr_proxy.py): every user hits
            # the proxy, which round-robins across backends per request
            from tools.rr_proxy import serve_proxy

            proxy = serve_proxy([f"http://127.0.0.1:{p}" for p in ports])
            urls = [f"http://127.0.0.1:{proxy.server_address[1]}/search"]
        # JIT warm-up: the steady state is the gated regime (locust runs
        # minutes); 40 sequential + one unmeasured concurrent wave per
        # worker gets each JVM past codegen/JIT before measurement
        for u in urls:
            for i in range(40):
                _post(u, f"warmup {i} spark vector")

        def user(wave: int, uid: int) -> list[float]:
            url = urls[uid % len(urls)]  # pinned = ideal sticky balancer
            out = []
            for i in range(reps):
                extra = _filter_for(filters_mode, wave, uid, i)
                t0 = time.perf_counter()
                _post(
                    url,
                    f"w{wave} client {uid} request {i} semantic vector search",
                    extra=extra,
                )
                out.append(time.perf_counter() - t0)
            return out

        waves = []
        for wave in range(3):  # wave 0 = concurrent warm-up, unmeasured
            t0 = time.perf_counter()
            with concurrent.futures.ThreadPoolExecutor(max_workers=users) as ex:
                lat = sorted(
                    x
                    for res in ex.map(lambda uid: user(wave, uid), range(users))
                    for x in res
                )
            wall = time.perf_counter() - t0
            if wave == 0:
                continue
            waves.append({
                "n": len(lat),
                "p50": round(lat[len(lat) // 2], 3), "p95": round(pct(lat, 0.95), 3),
                "p99": round(pct(lat, 0.99), 3), "qps": round(len(lat) / wall, 1),
            })
        return {
            "workers": n_workers, "cores_each": cores, "users": users,
            "via_proxy": via_proxy, "waves": waves,
            "best_p95": min(w["p95"] for w in waves),
            "best_qps": max(w["qps"] for w in waves),
        }
    finally:
        if proxy is not None:
            proxy.shutdown()
        for proc in procs:
            proc.kill()
        time.sleep(2)


def ensure_sf3072(root: str | None = None, scale: int = 1) -> str:
    """Synthesize a 3072-d corpus; ``scale`` multiplies the row count
    (scale=10 ⇒ ~20k vectors, the ×10 serving-index study corpus).
    The extra rows get distinct ids and phase-shifted vectors so nothing
    collapses as byte-duplicates."""
    root = root or (SF3072 if scale == 1 else f"{SF3072}_x{scale}")
    if os.path.exists(f"{root}/embeddings.parquet"):
        return root
    os.environ["SPARK_GRAFT_CPUS"] = "32"
    from pyspark.sql import functions as F

    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("build_sf3072")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    ids = spark.read.parquet(f"{SF01}/embeddings.parquet").select("vec_id")
    if scale > 1:
        copies = spark.range(scale).withColumnRenamed("id", "copy")
        # keep the vec_id ⊆ doc_id invariant the winner-fetch relies on
        docs = docs.crossJoin(copies).withColumn(
            "doc_id", F.col("doc_id") + F.col("copy") * 1_000_000
        ).drop("copy")
        ids = ids.crossJoin(copies).select(
            (F.col("vec_id") + F.col("copy") * 1_000_000).alias("vec_id")
        )
    docs.write.mode("overwrite").parquet(f"{root}/documents.parquet")
    vec = F.expr("transform(sequence(1, 3072), i -> cast(sin(vec_id * 7919 + i) as float))")
    (
        ids.select("vec_id", vec.alias("embedding"), F.lit(0).alias("label"))
        .write.mode("overwrite").parquet(f"{root}/embeddings.parquet")
    )
    spark.stop()
    return root


def bench_inproc(
    n_workers: int, users_total: int = 6, reps: int = 20, cores: int = 32,
    variant: str = "exact", sf_dir: str | None = None,
) -> dict:
    per = users_total // n_workers
    procs = [
        subprocess.Popen(
            [sys.executable, f"{REPO}/tools/serving_worker.py", "inproc",
             sf_dir or SF3072, str(per), str(reps), str(cores), variant],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True,
        )
        for _ in range(n_workers)
    ]
    try:
        for proc in procs:  # wait until every JVM is warmed
            while True:
                line = proc.stdout.readline()
                if line.startswith("WARMED"):
                    break
                if proc.poll() is not None:
                    raise RuntimeError("inproc worker died")
        for proc in procs:  # fire together
            proc.stdin.write("go\n")
            proc.stdin.flush()
        lat, wall, recall = [], 0.0, None
        for proc in procs:
            while True:
                line = proc.stdout.readline()
                if line.startswith("RESULT "):
                    r = json.loads(line[len("RESULT "):])
                    lat.extend(r["lat"])
                    wall = max(wall, r["wall"])
                    recall = r.get("recall", recall)
                    break
                if proc.poll() is not None:
                    raise RuntimeError("inproc worker died mid-run")
        lat.sort()
        return {
            "workers": n_workers, "users": users_total, "variant": variant,
            "n": len(lat),
            "p50": round(lat[len(lat) // 2], 3), "p95": round(pct(lat, 0.95), 3),
            "qps": round(len(lat) / wall, 1), "recall_at_10": recall,
        }
    finally:
        for proc in procs:
            proc.kill()
        time.sleep(2)


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which in ("http", "all"):
        for workers, cores in ((1, 32), (2, 16), (2, 32)):
            print(f"http sf0.1 20-user {workers}x local[{cores}]: "
                  + json.dumps(bench_http(workers, cores)), flush=True)
    if which in ("inproc", "all"):
        ensure_sf3072()
        for workers in (1, 2):
            print(f"inproc 3072-d 6-user {workers} proc: "
                  + json.dumps(bench_inproc(workers)), flush=True)
    if which in ("ivf", "all"):
        # the approximate serving mode (reference-HNSW analogue) at the
        # width+concurrency where the exact scan sits AT the gate
        ensure_sf3072()
        print("inproc 3072-d 6-user 1 proc ivf nprobe=4/16: "
              + json.dumps(bench_inproc(1, variant="ivf")), flush=True)
    if which in ("composed", "all"):
        # BOTH serving levers at the reference config (r6 verdict item
        # 5): reference width (3072-d corpus), reference concurrency
        # (20 HTTP users), 2 worker JVMs AND the IVF probe mode, every
        # request through the real round-robin proxy hop.  The exact-
        # mode twin on the same corpus isolates what the index buys at
        # this width; run nothing else concurrently (host-stall
        # methodology — compare bands, not points).
        sf3072 = ensure_sf3072()
        for variant in ("ivf:4", "exact"):
            print(
                f"http 3072-d 20-user 2x local[16] via proxy {variant}: "
                + json.dumps(bench_http(
                    2, 16, users=20, via_proxy=True,
                    sf_dir=sf3072, variant=variant,
                )),
                flush=True,
            )
    if which in ("filtered", "all"):
        # FILTERED composed serving at the reference config (r7 verdict
        # item 3): same 2 JVMs × local[16], 20 HTTP users, 3072-d
        # corpus, real proxy, IVF probe — but every request carries a
        # metadata filter.  Two regimes:
        #   mask-hit   small repeating filter set → per-cell masks
        #              cached after first touch (zero Spark statements
        #              at any selectivity)
        #   mask-cold  DISTINCT filter per request → every request
        #              builds fresh masks in-process
        sf3072 = ensure_sf3072()
        regimes = [("mask-hit", "hit"), ("mask-cold", "cold")]
        # Calibration context (round 11 — r10 verdict item 7): the
        # filtered-serving numbers quoted against BASELINE.md must name
        # the host regime they were measured in, so bracket the study
        # with the SAME pinned calibration bench.py uses and persist
        # everything to SERVING_FILTERED.json — bench.py embeds it in
        # the artifact's serving block with this provenance.
        import time as _time

        from bench import CALIB_REF, _calibrate

        def _calib_once() -> dict:
            # symmetric methodology (r11 review, twice): each reading
            # uses a FRESH local[8] JVM, discards one warm-up
            # calibration (so JVM startup/JIT never reads as host
            # noise), records the second, and STOPS the session — no
            # idle calib JVM coexists with the measured workers.  A
            # pre-existing driver session (ensure_sf3072's corpus build
            # creates one) must be stopped FIRST: get_spark is
            # getOrCreate, and a reused local[32] session would measure
            # an incomparable parallelism regime for calib_before only.
            from pyspark.sql import SparkSession

            from readwise_vector_db_spark.session import get_spark

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
            spark = get_spark("serving-calib", cores=8)
            try:
                _calibrate(spark)  # throwaway: absorbs JIT/startup
                return _calibrate(spark)
            finally:
                spark.stop()

        record: dict = {
            "measured_at": _time.time(),
            "config": "3072-d, 20 HTTP users, 2 JVM x local[16], rr proxy, ivf:4",
            "calib_before": _calib_once(),
            "regimes": {},
        }
        for name, mode in regimes:
            res = bench_http(
                2, 16, users=20, via_proxy=True, sf_dir=sf3072,
                variant="ivf:4", filters_mode=mode,
            )
            record["regimes"][name] = res
            print(
                f"http-filtered 3072-d 20-user 2x local[16] via proxy ivf:4 {name}: "
                + json.dumps(res),
                flush=True,
            )
        # settle before the closing calibration: the last regime's two
        # local[16] JVMs were killed ~2 s ago and their shutdown churn
        # reads as host noise (first attempt measured 8× on an idle
        # box); re-take once if the first reading is implausibly hot
        _time.sleep(15)
        after = _calib_once()
        if after["spark_sum_50m_s"] > 4 * CALIB_REF["spark_sum_50m_s"]:
            _time.sleep(15)
            after = _calib_once()
        record["calib_after"] = after
        ratios = [
            round(c["spark_sum_50m_s"] / CALIB_REF["spark_sum_50m_s"], 3)
            for c in (record["calib_before"], record["calib_after"])
        ]
        record["calib_spark_ratios"] = ratios
        out_path = os.path.join(REPO, "SERVING_FILTERED.json")
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1)
        print(f"serving-filtered record written to {out_path}", flush=True)


if __name__ == "__main__":
    main()
