"""Deduplication operators for a 100 TB training-data pipeline.

Five strategies, each with a different cost/recall point:

- ``exact_dedup_groups``   : hash-groupBy on a normalized fingerprint.
  One shuffle on the fingerprint; scales linearly.
- ``ngram_jaccard_pairs``  : exact Jaccard over word shingles via an
  inverted-index self-join (explode shingle → equi-join → count).
  Exact but worst-case quadratic on hot shingles; at 100 TB you cap
  document frequency (drop shingles appearing in >df_max docs — they
  carry no discriminative signal and create join skew).
- ``minhash_signatures`` / ``minhash_lsh_pairs`` : the scale path.
  64 universal-hash minima per doc (64 partial-aggregatable ``min``
  columns — fully JVM-side), banded 16×4 so pairs with Jaccard ≥ ~0.6
  collide in ≥1 band w.h.p.  Candidate generation is a groupBy on
  (band, band_hash): linear shuffle, no quadratic blowup.
- ``simhash_fingerprints`` / ``simhash_pairs`` : 64-bit simhash via
  per-bit vote counts (64 ``sum`` columns), candidates from 4×16-bit
  chunk collisions (hamming ≤ 3 ⇒ some chunk equal, pigeonhole).
- ``embedding_cosine_pairs`` : semantic near-dup on the embedding
  column.  Brute-force all-pairs here (fine at fixture scale, and the
  correctness baseline); the scale path buckets by LSH/IVF first — see
  operators/similarity.py.

The reference's only dedup is upsert-by-id (ON CONFLICT, reference
``db/supabase_ops.py:112-208``) — covered by operators/upsert.py;
everything here is north-star scope (SURVEY §2.7).
"""

from __future__ import annotations

import math
import random
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from readwise_vector_db_spark.functions.text import (
    fingerprint_md5,
    word_shingles,
    ws_tokens,
)
from readwise_vector_db_spark.functions.vector import cosine_similarity

# Detector-internal persisted frames (fan-out id maps, LSH vector
# bases).  The detectors return LAZY plans, so the function that calls
# .persist() cannot know when its caller has materialized the result —
# instead every internal persist is registered here and drained
# (unpersisted) at the start of the NEXT detector call, bounding cached
# storage to the most recent call's frames instead of growing without
# bound across a long-lived session.  Call
# :func:`release_detector_cache` to drop them immediately (e.g. after a
# bench loop materializes a detector's output).
#
# CONCURRENCY CONTRACT (round 10 — r9 verdict item 4 relaxed the old
# materialize-before-next-call rule): entries are GENERATION-tagged —
# every detector/join call entry bumps the generation and drains only
# entries older than ``_KEEP_GENERATIONS`` — so planning a second lazy
# rescored join no longer drops the first join's persist out from under
# its still-unmaterialized plan (which silently re-ran its full ADC
# scan).  Interleave depth ≤ _KEEP_GENERATIONS is cache-exact; deeper
# interleaves recompute correctly, just uncached.  Storage stays
# bounded at the newest _KEEP_GENERATIONS calls' frames, and results
# wrapped as :class:`SelfDrainingFrame` release their persists the
# moment their first action completes — usually well before the
# generation cutoff.  The lock makes drain/extend race-safe under
# FAIR-scheduler threads.
_CACHED_FRAMES: list[tuple[int, DataFrame]] = []
_CACHED_FRAMES_LOCK = threading.Lock()
_CACHE_GENERATION = 0
_KEEP_GENERATIONS = 2


_GEN_TLS = threading.local()


class _same_generation:
    """Composition guard (r10 review): a detector that invokes another
    detector inside its own body (the group-exact fan-out delegating to
    its ungrouped self) wraps the inner call so it does NOT advance the
    cache generation — one PUBLIC call, one generation, or the
    documented 'interleave depth ≤ _KEEP_GENERATIONS is cache-exact'
    guarantee silently halves for grouped detectors."""

    def __enter__(self):
        self._prev = getattr(_GEN_TLS, "hold", False)
        _GEN_TLS.hold = True

    def __exit__(self, *exc):
        _GEN_TLS.hold = self._prev
        return False


def begin_detector_call() -> None:
    """Entry hook for every detector / rescored-join / batch call:
    advance the generation and drain entries ≥ _KEEP_GENERATIONS old.
    No-op inside a :class:`_same_generation` block (nested composition)."""
    if getattr(_GEN_TLS, "hold", False):
        return
    global _CACHE_GENERATION
    with _CACHED_FRAMES_LOCK:
        _CACHE_GENERATION += 1
        cutoff = _CACHE_GENERATION - _KEEP_GENERATIONS
        drained = [f for g, f in _CACHED_FRAMES if g <= cutoff]
        _CACHED_FRAMES[:] = [(g, f) for g, f in _CACHED_FRAMES if g > cutoff]
    for frame in drained:
        try:
            frame.unpersist()
        except Exception:
            pass


def register_cached(*frames: DataFrame) -> None:
    with _CACHED_FRAMES_LOCK:
        _CACHED_FRAMES.extend((_CACHE_GENERATION, f) for f in frames)


def _unregister_cached(frames) -> None:
    ids = {id(f) for f in frames}
    with _CACHED_FRAMES_LOCK:
        _CACHED_FRAMES[:] = [
            (g, f) for g, f in _CACHED_FRAMES if id(f) not in ids
        ]


def release_detector_cache() -> None:
    """Unpersist ALL internal frames cached by earlier detector calls —
    the explicit everything-now drop (bench loops, tests)."""
    with _CACHED_FRAMES_LOCK:
        drained = [f for _, f in _CACHED_FRAMES]
        _CACHED_FRAMES.clear()
    for frame in drained:
        try:
            frame.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


try:  # PySpark 4: subclass the CLASSIC DataFrame (the dispatcher
    # parent's __new__ would re-route construction args)
    from pyspark.sql.classic.dataframe import DataFrame as _BaseDataFrame
except ImportError:  # pragma: no cover — older pyspark
    _BaseDataFrame = DataFrame


class SelfDrainingFrame(_BaseDataFrame):
    """A DataFrame that unpersists its registered dependency persists
    as soon as its first materializing action COMPLETES (round 10 —
    r9 verdict item 4's structural fix): the caches exist to keep one
    materialization single-scan, so the action's completion IS the
    drain point — no caller discipline required.  A second action on
    the same handle recomputes correctly (uncached); derived frames
    (``.filter(...)`` etc.) are plain DataFrames backstopped by the
    generation registry."""

    def __init__(self, df: DataFrame, persists) -> None:
        super().__init__(df._jdf, df.sparkSession)
        self._sd_persists = list(persists)

    def _sd_drain(self) -> None:
        frames, self._sd_persists = self._sd_persists, []
        if not frames:
            return
        _unregister_cached(frames)
        for f in frames:
            try:
                f.unpersist()
            except Exception:
                pass

    def _sd_action(self, name: str, *args, **kwargs):
        try:
            return getattr(super(), name)(*args, **kwargs)
        finally:
            self._sd_drain()

    def collect(self):
        return self._sd_action("collect")

    def count(self):
        return self._sd_action("count")

    def toPandas(self):
        return self._sd_action("toPandas")

    def show(self, *a, **k):
        return self._sd_action("show", *a, **k)

    def foreach(self, f):
        return self._sd_action("foreach", f)

    def foreachPartition(self, f):
        return self._sd_action("foreachPartition", f)

    @property
    def write(self):
        return _DrainingWriter(super().write, self)


class _DrainingWriter:
    """Proxy over DataFrameWriter: chainable config methods stay
    wrapped; a terminal method (save/parquet/... — they return no
    writer) triggers the owner's drain after the write completes."""

    def __init__(self, writer, owner: SelfDrainingFrame) -> None:
        self._sd_writer, self._sd_owner = writer, owner

    def __getattr__(self, name):
        attr = getattr(self._sd_writer, name)
        if not callable(attr):
            return attr

        def call(*args, **kwargs):
            out = attr(*args, **kwargs)
            if isinstance(out, type(self._sd_writer)):
                return _DrainingWriter(out, self._sd_owner)
            self._sd_owner._sd_drain()
            return out

        return call


# --- exact ------------------------------------------------------------------


def exact_dedup_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: str | None = None,
) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    Returns (fp, n, keep_id): fingerprint, group size, smallest id — the
    canonical survivor under first-writer-wins.  ``normalize="nfc"``
    (round 12) folds composed/decomposed Unicode twins into one group —
    see :func:`~readwise_vector_db_spark.functions.text.fingerprint_md5`.
    """
    return (
        docs.select(
            F.col(id_col),
            fingerprint_md5(text_col, normalize=normalize).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n") > 1)
    )


def exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: str | None = None,
) -> DataFrame:
    """Keep one row per normalized text (min id wins) — distributed,
    no driver loop: window-free via self-join on the winning ids.
    ``normalize="nfc"`` folds composed/decomposed Unicode twins."""
    winners = (
        docs.select(
            F.col(id_col),
            fingerprint_md5(text_col, normalize=normalize).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(winners, id_col, "left_semi")


# --- exact jaccard over shingles (inverted index) ---------------------------


# Shingles appearing in more documents than this are excluded from
# CANDIDATE GENERATION (they carry no discriminative signal and make the
# inverted-index self-join quadratic on a Zipfian corpus).  Verification
# always uses the FULL shingle sets, so any reported Jaccard is exact;
# the only approximation is that a pair sharing exclusively hotter-than-
# df_max shingles is never considered — a pair that, by construction,
# looks like every other document.
DF_MAX_DEFAULT = 1000

# Fan-out cost-probe threshold: fraction of rows that must be byte-dup
# replicas before the exact-group indirection pays for its fixed joins
# (see the probe comment in _exact_group_fanout; measured crossover is
# between 9 % — indirection 2× slower — and 90 % — 6× faster).
_FANOUT_MIN_DUP_RATIO = 0.25


def _exact_group_fanout(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    score_col: str,
    inner,
    intra_score: Column | None = None,
) -> DataFrame:
    """Exact-dedup-first wrapper shared by the shingle-based pair
    detectors: group docs by raw-text md5, run ``inner`` (a pair
    detector returning (id_a, id_b, <score_col>)) over one
    representative per group (the min id), then fan verdicts back out.

    Output-identical to running ``inner`` on the full corpus whenever
    the detector's score is a pure function of the shingle/token set:
    byte-identical texts have identical sets, so score(x, y) =
    score(rep(x), rep(y)) for cross-group pairs and ``intra_score``
    (default 1.0 — a Jaccard-family self-similarity; SimHash passes
    hamming 0) within a group.  Intra-group pairs are emitted only for
    groups whose text has ≥ k whitespace tokens (⟺ a nonempty
    shingle/token set under that detector's tokenizer — an empty set
    pairs with nothing).

    This is the 100 TB shape: a replica-heavy corpus shrinks
    |corpus| → |distinct texts| before the expensive shingle stage, and
    the C(g,2) intra-group pairs come from a cheap id-level self-join
    instead of being rediscovered through an inverted index or banded
    signatures.
    """
    begin_detector_call()
    ids = docs.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("_gfp")
    ).persist()
    groups = ids.groupBy("_gfp").agg(
        F.min("id").alias("gid"), F.count(F.lit(1)).alias("gn")
    ).persist()
    # Data-adaptive COST probe (the AQE spirit, one narrow aggregation
    # job): the fan-out saves shingle-stage work proportional to the
    # duplicate RATIO, but costs fixed machinery (member map, rep
    # semi-join, two fan-out joins, intra self-join).  Presence of a few
    # dups is not enough — measured at sf0.1 (9 % byte-dup texts) the
    # grouped path ran 5.4 s vs 2.0-2.9 s ungrouped, while the ×10
    # replica corpus (90 % dups) is 6× FASTER grouped.  So: take the
    # indirection only when ≥ ``_FANOUT_MIN_DUP_RATIO`` of rows are
    # byte-duplicates; below that the detector runs directly.  Direct
    # and grouped are output-identical for every detector whose score is
    # a pure set function (MinHash/SimHash, and prefix-filter Jaccard
    # with df_max=None); with a df_max cap active, document frequency is
    # counted over the full corpus here vs distinct representatives in
    # grouped mode, so candidate sets may differ for shingles straddling
    # the cap (the ngram_jaccard_pairs docstring states this bound —
    # verification is exact either way, only near-cap candidate
    # GENERATION can differ).  At 100 TB the probe
    # is one map-side-combined count over (id, md5) — noise next to
    # shingling.
    head = groups.agg(
        F.count(F.lit(1)).alias("g"), F.coalesce(F.sum("gn"), F.lit(0)).alias("n")
    ).first()
    n_rows, n_groups = int(head["n"]), int(head["g"])
    dup_ratio = 0.0 if n_rows == 0 else 1.0 - n_groups / n_rows
    if dup_ratio < _FANOUT_MIN_DUP_RATIO:
        # fully dead on this path — release now, not at the next call
        ids.unpersist()
        groups.unpersist()
        with _same_generation():
            return inner(docs)
    # (member id → group rep id, group size): narrow — two longs and a
    # hash — persisted because it feeds rep selection, the intra
    # self-join, and both sides of the cross fan-out.  ids/groups stay
    # persisted (members' lineage reads them lazily); all three are
    # drained by the generation registry.  The inner call (the same
    # public detector, ungrouped) runs under _same_generation so ONE
    # public call advances ONE generation (r10 review).
    members = ids.join(groups, "_gfp").select("id", "gid", "gn").persist()
    reps = docs.join(
        members.filter(F.col("id") == F.col("gid")).select(F.col("id").alias(id_col)),
        id_col,
        "left_semi",
    )
    with _same_generation():
        rep_pairs = inner(reps)
    register_cached(ids, groups, members)
    ga = members.select(F.col("gid").alias("id_a"), F.col("id").alias("_ma"))
    gb = members.select(F.col("gid").alias("id_b"), F.col("id").alias("_mb"))
    cross = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            score_col,
        )
    )
    elig = reps.filter(F.size(ws_tokens(text_col)) >= k).select(
        F.col(id_col).alias("gid")
    )
    dup_members = members.filter(F.col("gn") > 1).join(elig, "gid", "left_semi")
    m1 = dup_members.select("gid", F.col("id").alias("id_a"))
    m2 = dup_members.select("gid", F.col("id").alias("id_b"))
    score = intra_score if intra_score is not None else F.lit(1.0)
    intra = (
        m1.join(m2, "gid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias(score_col))
    )
    return cross.unionByName(intra)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "index",
    df_max: int | None = DF_MAX_DEFAULT,
    shingle_hash: str | None = "xxhash64",
    group_exact: bool = True,
) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ threshold, candidate+verify shape:

    1. **Candidate generation** from an inverted index of shingles with
       document frequency ≤ ``df_max`` (default on — the skew bound that
       keeps the self-join from exploding quadratically on hot shingles
       at 100× corpus size).  Two strategies:

       - ``index`` (default): equi-join the capped index with itself,
         with the length filter (J ≥ t ⇒ |A| ≥ t·|B|) riding on the join.
       - ``prefix``: PPJoin-style prefix filtering — rank each doc's
         shingles by global df ascending, index only the first
         ``n − ⌈t·n⌉ + 1`` (pigeonhole: J ≥ t pairs must collide there).
         Wins on Zipfian corpora; costs extra passes on flat data.

    2. **Exact verification**: each candidate pair joins back to the two
       full shingle arrays and scores ``|A∩B| / |A∪B|`` via
       ``array_intersect`` — cost linear in candidates, immune to hot-
       shingle skew (the old count-the-join-rows verification re-walked
       the uncapped index and kept the quadratic term alive).

    ``df_max=None`` disables the cap (candidates from the full index);
    reported pairs are then the complete exact answer.

    ``shingle_hash`` replaces each shingle string with a 64-bit hash
    before anything is joined or intersected: shuffle keys and
    verification arrays shrink from ~25-byte strings to 8-byte longs
    (measured ~18× steady-state end-to-end at sf0.1 — string-array
    intersection is the old dominant cost).  The hash is applied on the
    EXPLODED column, not inside a higher-order ``transform`` lambda:
    HOF lambdas run interpreted, outside whole-stage codegen, which
    costs ~2.5× cold for md5.  A collision merges two shingles — it can
    only add candidates (verification still filters) and perturb a
    Jaccard by ±1/|union|; negligible at 64 bits for any corpus size.
    The oracle-checked suite entry uses the portable ``md5`` variant so
    DuckDB reproduces the hashed sets bit-for-bit; ``None`` keeps raw
    strings.

    ``group_exact`` (default on) runs exact dedup FIRST: docs are
    grouped by raw-text md5, the shingle/index/verify pipeline above
    runs over one representative per group (the min id), and the
    verdicts fan back out — byte-identical texts have identical shingle
    sets, so J(x, y) = J(rep(x), rep(y)) for cross-group pairs and
    exactly 1.0 within a group, making the rewrite output-identical for
    EVERY input.  This is the 100 TB shape: a replica-heavy corpus (the
    common crawl case) shrinks |corpus| → |distinct texts| before the
    expensive shingle stage, and the C(g,2) intra-group pairs are
    emitted by a cheap id-level self-join instead of being rediscovered
    through the inverted index (measured: the ×10 replicated corpus —
    10 byte-copies of every doc — cut from 15.8 s to well under the
    ungrouped path's cost; see SCALING.md appendix).  Cost when there
    are NO duplicates: one extra narrow (id, md5) aggregation + the
    fan-out joins over the pair list — noise next to the shingle stage.
    In grouped mode the df statistics (df_max cap, prefix ranking) are
    computed over representatives, i.e. over distinct texts — arguably
    the right corpus statistic; with exact strategies
    (``prefix``/``df_max=None``) the output is unconditionally exact
    either way.  Requires ``threshold <= 1.0`` (a Jaccard is ≤ 1).
    """
    if group_exact:
        assert threshold <= 1.0
        return _exact_group_fanout(
            docs,
            id_col,
            text_col,
            k,
            "jaccard",
            lambda reps: ngram_jaccard_pairs(
                reps, threshold, k, id_col, text_col, strategy, df_max,
                shingle_hash, group_exact=False,
            ),
        )

    begin_detector_call()
    raw = docs.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(text_col, k)).alias("shingle")
    )
    if shingle_hash is not None:
        raw = raw.withColumn("shingle", hash64("shingle", shingle_hash))

    if strategy == "prefix":
        # PPJoin prefix, built array-side in ONE per-doc aggregation.
        # Correctness of prefix filtering needs only a CONSISTENT global
        # total order on shingles; df-ascending is the heuristic that
        # minimizes candidates.  Ranking by OCCURRENCE count (no per-doc
        # distinct pass — ≈ document frequency on natural text, where
        # in-doc shingle repeats are rare) lets one groupBy produce the
        # df-sorted struct array, from which the distinct set, its size,
        # and the prefix slice all derive map-side — no window stage, one
        # fewer shuffle, and one cached table instead of two.  In this
        # mode a ``df_max`` cap therefore also counts occurrences (an
        # upper bound of doc frequency: the cap is at least as
        # aggressive as documented).
        # raw feeds the frequency aggregate AND the join's probe side —
        # persist so the scan+shingle+hash pass runs once, not twice
        # (MEMORY_AND_DISK: at 100 TB this spills instead of evicting)
        raw = raw.persist()
        register_cached(raw)
        freq = raw.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        joined = raw.join(freq, "shingle")
        tbl = (
            joined.groupBy("id")
            # collect_set dedups in-doc repeats AND hash collisions (a
            # shingle's df is functionally determined by the shingle)
            .agg(F.array_sort(F.collect_set(F.struct("df", "shingle"))).alias("arr"))
            .withColumn("n_sh", F.size("arr"))
            .filter(F.col("n_sh") > 0)
        )
        eligible = (
            F.col("arr")
            if df_max is None
            else F.filter("arr", lambda x: x["df"] <= F.lit(df_max))
        )
        prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        # persisted once: feeds both self-join sides AND the verification
        # join.  At 100 TB this is a materialized parquet intermediate.
        sh = (
            tbl.withColumn("sh", F.transform("arr", lambda x: x["shingle"]))
            .withColumn(
                "pref",
                F.transform(
                    F.slice(eligible, F.lit(1), prefix_len), lambda x: x["shingle"]
                ),
            )
            .drop("arr")
            .persist()
        )
        register_cached(sh)
        ex = sh.select("id", "n_sh", F.explode("pref").alias("shingle"))
    else:
        # per-doc distinct shingle sets (collect_set also merges hash
        # collisions), persisted: this table feeds the exploded index AND
        # both sides of the verification join.  At 100 TB this is a
        # materialized parquet intermediate, not executor cache.
        sh = (
            raw.groupBy("id")
            .agg(F.collect_set("shingle").alias("sh"))
            .withColumn("n_sh", F.size("sh"))
            .filter(F.col("n_sh") > 0)
            .persist()
        )
        register_cached(sh)
        ex = sh.select("id", "n_sh", F.explode("sh").alias("shingle"))

        if df_max is not None:
            freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            # the capped index feeds BOTH sides of the self-join below;
            # without a persist the df-count + join chain runs twice —
            # the static plan showed zero exchange reuse.
            ex = ex.join(freq, "shingle").filter(F.col("df") <= df_max).persist()
            register_cached(ex)

    a, b = ex.alias("a"), ex.alias("b")
    # length filter: J(A,B) ≤ min/max of sizes, so J ≥ t ⇒ na ≥ t·nb (wlog);
    # cannot drop a true pair, so it needs no oracle mirror
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.n_sh") >= F.lit(threshold) * F.col("b.n_sh"))
            & (F.col("b.n_sh") >= F.lit(threshold) * F.col("a.n_sh")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pa = sh.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na")
    )
    pb = sh.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb")
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        cands.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- minhash + LSH ----------------------------------------------------------

MINHASH_P = (1 << 31) - 1  # Mersenne prime for universal hashing
N_HASHES = 64
N_BANDS = 16  # 16 bands × 4 rows: P(collision) = 1-(1-j^4)^16, ~0.5 at j≈0.55
ROWS_PER_BAND = N_HASHES // N_BANDS


def _hash_coeffs(n: int = N_HASHES, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P)) for _ in range(n)]


def hash64(col: Column | str, base_hash: str = "xxhash64") -> Column:
    """64-bit token hash.  ``xxhash64`` is the fast production path;
    ``md5`` is the portable path (60-bit: first 15 hex chars) that DuckDB
    reproduces exactly — used by the oracle-checked suite entries."""
    c = F.col(col) if isinstance(col, str) else col
    if base_hash == "xxhash64":
        return F.xxhash64(c)
    if base_hash == "md5":
        return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown base_hash {base_hash!r}")


def _hash64_sql(arg: str, base_hash: str) -> str:
    """:func:`hash64` as a SQL fragment, for the wide expr-string plans
    below.  Building 64-way expressions through the Column API costs
    hundreds of py4j round-trips PER PLAN (measured ~1 s of driver time
    on every minhash/simhash call); one ``F.expr`` string is parsed
    JVM-side in ~ms and produces the identical expression tree."""
    if base_hash == "xxhash64":
        return f"xxhash64({arg})"
    if base_hash == "md5":
        return f"cast(conv(substring(md5(cast({arg} as string)),1,15),16,10) as bigint)"
    raise ValueError(f"unknown base_hash {base_hash!r}")


def minhash_signatures(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<long>[64]).  Base hash = hash64(shingle) mod P;
    permutation i = (a_i·h + b_i) mod P; signature = per-permutation min.

    Pure per-row projection — a doc's signature depends only on its own
    shingle array: NO explode, NO shuffle (the prior explode+groupBy
    version shuffled |corpus|·|shingles| rows that map-side combine
    then re-collapsed — measured 1.26 → 0.96 s at sf0.1, and at 100 TB
    the difference is an entire |shingle|-scale exchange).  Docs whose
    shingle set is empty emit no row, exactly like the explode path (an
    empty set pairs with nothing).  The 64-way expression is built as
    ONE ``F.expr`` string (see :func:`_hash64_sql` — the Column-API
    version cost ~1 s of py4j round-trips per plan).

    Round-12 note: a vectorized numpy ``mapInPandas`` form of the 64
    minima (``minimum.reduceat`` per permutation) measured FASTER in
    isolation (2.2 → 1.6 s on the 5 k-doc rep frame) but REGRESSED the
    end-to-end benched rows (dedup_minhash_lsh 2.77 → 2.93 s,
    dedup_clusters 4.6 → 7.5 s, same-conditions A/B) — the Arrow
    hand-off of the hashed-shingle arrays inside a persisted,
    re-consumed frame costs more than the interpreted folds save.
    Kept all-JVM; don't re-try blind (OPTIMIZATION_r12.md §5).
    """
    P = MINHASH_P
    hs = F.expr(f"transform(_sh, s -> pmod({_hash64_sql('s', base_hash)}, {P}L))")
    mins = ", ".join(
        f"array_min(transform(_hs, h -> pmod(h * {a}L + {b}L, {P}L)))"
        for a, b in _hash_coeffs()
    )
    return (
        docs.select(F.col(id_col).alias("id"), word_shingles(text_col, k).alias("_sh"))
        .select("id", hs.alias("_hs"))
        .filter(F.size("_hs") > 0)
        .select("id", F.expr(f"array({mins})").alias("sig"))
    )


def band_keys(sig_col: Column | str) -> Column:
    """Array of the 16 banded-LSH keys of a 64-component signature —
    each band's 4 components rendered as a string grouping key.  Keys
    are unrolled in Python (flat ``element_at`` exprs, no nested
    higher-order lambdas) — nested transform-in-transform codegen was
    the dominant COLD cost of this plan (compile time, not runtime).
    Shared by the in-corpus pair detector and the incremental
    batch-vs-store dedup (jobs/incremental_dedup.py), which band two
    DIFFERENT frames and join across them."""
    if isinstance(sig_col, str):
        # one JVM-parsed expr: 16×4 element_at via the Column API is
        # ~100 py4j round-trips of per-plan driver time
        bands = ", ".join(
            "concat_ws(',', "
            + ", ".join(
                f"cast(element_at({sig_col}, {j * ROWS_PER_BAND + r + 1}) as string)"
                for r in range(ROWS_PER_BAND)
            )
            + ")"
            for j in range(N_BANDS)
        )
        return F.expr(f"array({bands})")
    c = sig_col
    return F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.element_at(c, j * ROWS_PER_BAND + r + 1).cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
            for j in range(N_BANDS)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_hash: str = "xxhash64",
    dedupe_pairs: bool = True,
    group_exact: bool = True,
) -> DataFrame:
    """Candidate pairs from banded LSH, scored by signature agreement.

    Returns (id_a, id_b, est_jaccard) with est ≥ threshold.  est_jaccard
    is the fraction of agreeing minhash components — an unbiased Jaccard
    estimator given the seeded permutations; with ``base_hash='md5'`` the
    whole pipeline is reproduced in SQL and hash-checked by the oracle.

    The band key is the band's signature slice rendered as text — a
    grouping key only, so any injective rendering works, and this one is
    engine-portable.

    ``group_exact`` (default on) routes through
    :func:`_exact_group_fanout`: signatures are a pure function of the
    shingle set, so byte-identical texts have identical signatures,
    cross-group estimates equal the rep pair's, and intra-group
    estimates are exactly 64/64 = 1.0 — output-identical for every
    input, while the signature build and band join run over distinct
    texts only (the ×10 replicated corpus dropped 16.5 s → ~3 s).  Pass
    False when the caller already deduplicated (e.g. the curation
    funnel's post-exact-dedup stage).
    """
    if group_exact:
        assert threshold <= 1.0
        return _exact_group_fanout(
            docs,
            id_col,
            text_col,
            k,
            "est_jaccard",
            lambda reps: minhash_lsh_pairs(
                reps, threshold, k, id_col, text_col, base_hash,
                dedupe_pairs=dedupe_pairs, group_exact=False,
            ),
        )
    # persist: the signature table feeds both sides of the candidate
    # self-join AND the verification join — without it the shingle+64-min
    # aggregation (the expensive stage) runs twice.  At 100 TB this is a
    # materialized parquet intermediate, not executor cache.
    begin_detector_call()
    sigs = minhash_signatures(docs, k, id_col, text_col, base_hash).persist()
    register_cached(sigs)
    bands = sigs.select(
        "id", "sig", F.posexplode(band_keys("sig")).alias("band", "bh")
    )
    a, b = bands.alias("a"), bands.alias("b")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda t: t,
        )
    )
    est = F.round(agree.cast("double") / F.lit(N_HASHES), 6)
    # est_jaccard is a pure function of the two signatures, so it is
    # computed AND thresholded on the band-join output BEFORE any pair
    # dedup (round 13, guide §2.3 "project before the exchange"): the
    # dropDuplicates exchange used to carry both 64-long signature
    # arrays (~1 KB/row) per candidate just to recompute the identical
    # est afterwards — now it shuffles (id_a, id_b, est) only, and
    # below-threshold candidates never reach the exchange at all.  A
    # multi-band pair emits k copies with the SAME est, so keeping any
    # one of them (dropDuplicates) is the same row the old
    # dedup-then-score path produced.
    cands = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        est.alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= threshold)
    # ``dedupe_pairs=False`` skips this shuffle: a pair colliding in k
    # bands comes out k times with the SAME est_jaccard (it's a function
    # of the two signatures), so consumers idempotent under pair
    # multiplicity — connected components' min-aggregation — can skip
    # the distinct and save a full pass over the candidate list.
    if dedupe_pairs:
        cands = cands.dropDuplicates(["id_a", "id_b"])
    return cands.select("id_a", "id_b", "est_jaccard")


# --- simhash ----------------------------------------------------------------


def simhash_bits(base_hash: str) -> int:
    """xxhash64 gives 64 usable bits; the portable md5 path gives 60
    (15 hex chars, so the value stays positive in a BIGINT)."""
    return 64 if base_hash == "xxhash64" else 60


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash BIGINT): per-bit majority vote over token hashes.

    Pure per-row projection, like :func:`minhash_signatures`: the vote
    is over the doc's OWN token multiset, so each bit's count is an
    ``aggregate()`` over the hashed-token array — no explode, no
    groupBy shuffle (measured 0.7 → 0.2 s at sf0.1), and the whole
    64-bit fold is one JVM-parsed expr string (the Column-API version
    cost ~1 s of py4j round-trips per plan)."""
    n_bits = simhash_bits(base_hash)
    toks = F.split(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col), r"\s+")
    hs = F.expr(f"transform(_toks, t -> {_hash64_sql('t', base_hash)})")
    fold = " + ".join(
        f"(case when 2 * aggregate(_hs, 0L, (acc, h) -> acc +"
        f" (shiftright(h, {i}) & 1)) > size(_hs)"
        f" then shiftleft(1L, {i}) else 0L end)"
        for i in range(n_bits)
    )
    return (
        docs.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .select("id", hs.alias("_hs"))
        # null text → null token array: emit no row, exactly like the
        # explode path (the fold's case-when would otherwise swallow the
        # NULL votes into an all-zero fingerprint that pairs null docs)
        .filter(F.col("_hs").isNotNull())
        .select("id", F.expr(fold).alias("simhash"))
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id",
                  text_col: str = "text", base_hash: str = "xxhash64",
                  group_exact: bool = True) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming.

    Candidates via 4-chunk equality (pigeonhole: ≤3 differing bits
    ⇒ ≥1 of 4 chunks identical), then exact bit_count(xor) filter — the
    classic Google simhash dedup layout, as a pure DataFrame plan.

    ``group_exact`` (default on) routes through
    :func:`_exact_group_fanout`: the fingerprint is a pure function of
    the token stream, so byte-identical texts have identical simhashes —
    cross-group pairs carry the rep pair's hamming and intra-group
    pairs are exactly 0.  Every text has ≥1 whitespace token (the
    tokenizer never yields an empty set), so ``k=1`` eligibility admits
    all duplicate groups.
    """
    if group_exact:
        return _exact_group_fanout(
            docs,
            id_col,
            text_col,
            1,
            "hamming",
            lambda reps: simhash_pairs(
                reps, max_hamming, id_col, text_col, base_hash, group_exact=False
            ),
            intra_score=F.lit(0).cast("int"),
        )
    n_bits = simhash_bits(base_hash)
    chunk_w = n_bits // 4
    chunk_mask = (1 << chunk_w) - 1
    # persist: fingerprints feed both sides of the chunk self-join and the
    # final hamming verification — the 60-bit-sum aggregation runs once
    begin_detector_call()
    fps = simhash_fingerprints(docs, id_col, text_col, base_hash).persist()
    register_cached(fps)
    chunk_structs = [
        F.struct(
            F.lit(j).alias("chunk"),
            F.shiftright("simhash", j * chunk_w).bitwiseAND(F.lit(chunk_mask)).alias("cv"),
        )
        for j in range(4)
    ]
    chunks = fps.select(
        "id", "simhash", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _e2lsh_collision_prob(r: float, w: float) -> float:
    """P[two points at euclidean distance ``r`` land in the same
    quantized bucket of ONE random projection] for the E2LSH family
    with bucket width ``w`` (Datar et al., SCG 2004, p(r) closed form:
    1 − 2Φ(−w/r) − (2 / (√(2π)·(w/r)))·(1 − e^{−(w/r)²/2}))."""
    if r <= 0.0:
        return 1.0
    c = w / r
    phi_neg_c = 0.5 * (1.0 + math.erf(-c / math.sqrt(2.0)))
    return (
        1.0
        - 2.0 * phi_neg_c
        - (2.0 / (math.sqrt(2.0 * math.pi) * c)) * (1.0 - math.exp(-(c * c) / 2.0))
    )


def _e2lsh_tables_for(
    threshold: float,
    bucket_length: float,
    n_projections: int,
    target_recall: float = 0.9,
    max_tables: int = 64,
) -> int:
    """OR-tables needed so a pair AT the cosine threshold is found with
    ``target_recall``: recall = 1 − (1 − p1^k)^L ⇒
    L = ⌈ln(1−R) / ln(1−p1^k)⌉, capped at ``max_tables``."""
    r = math.sqrt(max(0.0, 2.0 - 2.0 * threshold))
    pk = _e2lsh_collision_prob(r, bucket_length) ** n_projections
    if pk >= 1.0:
        return 1
    if pk <= 0.0:
        return max_tables
    need = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pk))
    return max(1, min(max_tables, need))


def e2lsh_plan(
    threshold: float,
    bucket_length: float = 0.5,
    target_recall: float = 0.9,
    max_tables: int = 16,
    max_projections: int = 6,
) -> tuple[int, int]:
    """Derive ``(n_projections, num_hash_tables)`` for a cosine
    threshold.  AND-composing k projections keeps buckets ~singleton on
    structureless data (per-table collision p1^k), but recall at the
    threshold boundary collapses unless L = ln(1−R)/ln(1−p1^k) OR-ed
    tables restore it — the two must be derived TOGETHER.  Strategy:
    use the sharpest k whose required L fits the table budget, so
    bucket-join cost stays linear while boundary recall is ≥ R by
    construction.  E.g. (w=0.5, R=0.9): t=0.999 → (6, 3) — the ultra-
    close operating point the call sites use; t=0.95 → (3, 15);
    t=0.9 → (2, 13).  Exact duplicates have recall 1.0 at ANY plan
    (identical vectors agree on every projection)."""
    for k in range(max_projections, 0, -1):
        need = _e2lsh_tables_for(
            threshold, bucket_length, k, target_recall, max_tables + 1
        )
        if need <= max_tables:
            return k, need
    return 1, max_tables


def lsh_embedding_pairs(
    embs: DataFrame,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_hash_tables: int | None = None,
    n_projections: int | None = None,
    bucket_length: float = 0.5,
    seed: int = 42,
    target_recall: float = 0.9,
) -> DataFrame:
    """Embedding near-dup via bucketed random projections — the scale
    path for ``embedding_cosine_pairs`` (SURVEY §2.7 "Similarity join:
    LSH").  Pure DataFrame plan, whole-stage codegen end-to-end:

    1. L2-normalize, so cosine ≥ t ⟺ euclidean ≤ √(2−2t) and the
       euclidean-LSH family applies to cosine semantics.
    2. Per hash table t: an E2LSH COMPOUND key — the xxhash of
       ``n_projections`` quantized projections ⌊(v·p_{t,j} + o_{t,j}) /
       bucket_length⌋.  AND-composition is what keeps buckets small on
       data with no cluster structure: ONE 1-d projection over n
       near-uniform unit vectors yields O(1/w) fat buckets and the
       bucket join degenerates to ~n²/buckets pairs (measured: the ×10
       corpus, 52 k vectors, took 327 s with 1-d keys — ~12 buckets of
       ~4 k vectors each); six projections cut bucket occupancy to ~1
       and the join cost to the true-pair neighborhood.  OR across
       ``num_hash_tables`` tables restores near-dup recall lost to the
       sharper keys.  All table keys come out of ONE ``posexplode``
       projection.
    3. Candidates: equi-join on (table, key) — linear bucket-join cost.
    4. Exact verification with the SAME cosine expression as the exact
       operator (original vectors + precomputed norms), so reported
       values are bit-identical to the brute-force baseline.

    Identical vectors agree on every projection, hence share every
    table key — planted exact duplicates have recall 1.0 by
    construction; near-dups (d ≤ √(2−2t), a small fraction of w) agree
    per projection w.h.p. and are found with probability
    ≥ 1−(1−p^k)^tables.  Formerly MLlib
    ``BucketedRandomProjectionLSH.approxSimilarityJoin`` (1-d keys, the
    same fat-bucket degeneracy, plus array→Vector UDF conversions).
    """
    from readwise_vector_db_spark.functions.vector import (
        cosine_similarity,
        l2_norm,
        l2_normalize,
    )

    # (k, L) must compose: callers fixing only one side get the other
    # derived for the SAME operating threshold, so near-dup recall at
    # the boundary is ≥ target_recall instead of silently collapsing
    # (p1^6 with L=3 is fine at t=0.999 and ~5-15 % recall at t=0.9).
    if n_projections is None and num_hash_tables is None:
        n_projections, num_hash_tables = e2lsh_plan(
            threshold, bucket_length, target_recall
        )
    elif num_hash_tables is None:
        num_hash_tables = _e2lsh_tables_for(
            threshold, bucket_length, n_projections, target_recall, max_tables=16
        )
    elif n_projections is None:
        n_projections, _ = e2lsh_plan(threshold, bucket_length, target_recall)

    begin_detector_call()
    rng = random.Random(seed)
    dim_row = embs.select(F.size(F.col(vec_col)).alias("d")).filter(
        F.col("d") > 0
    ).first()
    dim = int(dim_row["d"]) if dim_row else 0
    projs = [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_projections)]
        for _ in range(num_hash_tables)
    ]
    offsets = [
        [rng.uniform(0.0, bucket_length) for _ in range(n_projections)]
        for _ in range(num_hash_tables)
    ]

    base = (
        embs.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(vec_col).alias("vn"),
        )
        .filter(F.col("v").isNotNull())
        .withColumn("nv", l2_normalize("v"))
        .filter(F.col("nv").isNotNull())
        .persist()
    )
    register_cached(base)

    # All tables×projections built as ONE JVM-parsed expr — the Column
    # API inlined tables·k·dim F.lit weights (1 152 py4j round-trips at
    # the default plan over 64-d vectors), ~1 s of driver time per call.
    def quantized_sql(t: int, j: int) -> str:
        w = ", ".join(f"cast('{float(x)!r}' as double)" for x in projs[t][j])
        off = f"cast('{float(offsets[t][j])!r}' as double)"
        bl = f"cast('{float(bucket_length)!r}' as double)"
        return (
            f"floor((aggregate(zip_with(nv, array({w}), (x, w) -> x * w),"
            f" cast(0.0 as double), (acc, x) -> acc + x) + {off}) / {bl})"
        )

    # compound key per table: one 64-bit hash over the table's k
    # quantized projections (xxhash64 is variadic and JVM-side)
    tables_sql = ", ".join(
        "xxhash64(" + ", ".join(quantized_sql(t, j) for j in range(n_projections)) + ")"
        for t in range(num_hash_tables)
    )
    # the bucket self-join shuffles ONLY (table, bucket, id) — vectors
    # never ride the LSH shuffle (at 100 TB the tables×n bucket rows are
    # ~24 bytes each; the vector fetch below is candidates-bound)
    # persist the bucket keys (round 12): both sides of the self-join
    # consume this frame, and the tables·k interpreted projection folds
    # are the expensive map work — uncached they ran TWICE (once per
    # join side).  The cached rows are the ~24-byte (id, table, bucket)
    # triples, not vectors — bounded the same way the shuffle is.
    hashed = base.select(
        "id",
        F.posexplode(F.expr(f"array({tables_sql})")).alias("table", "bucket"),
    ).persist()
    register_cached(hashed)
    a = hashed.select("table", "bucket", F.col("id").alias("id_a"))
    b = hashed.select("table", "bucket", F.col("id").alias("id_b"))
    cands = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pa = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("vn").alias("na")
    )
    pb = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("vn").alias("nb")
    )
    cos = F.round(
        cosine_similarity(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6
    )
    return (
        cands.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# --- embedding cosine -------------------------------------------------------


def embedding_cosine_pairs(
    embs: DataFrame,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold — brute-force correctness baseline.

    O(n²) compare; at 100 TB wrap this behind an LSH/IVF bucket join
    (operators/similarity.py) so only same-bucket pairs are compared.
    """
    base = embs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).filter(
        F.col("v").isNotNull()
    )
    a, b = base.alias("a"), base.alias("b")
    cos = F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), 6)
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _vector_group_fanout(
    base: DataFrame,
    inner,
) -> DataFrame:
    """Byte-identical-vector fan-out for embedding pair detectors — the
    vector-space twin of ``_exact_group_fanout``.  ``base`` is the
    normalized (id, v) frame; ``inner`` maps such a frame to
    (id_a, id_b, cos_sim) pairs.

    Groups key on a fixed 12-byte fingerprint — ``(xxhash64(v),
    murmur3(v))``, both JVM-native over the array with no string
    materialization — instead of the raw array (which would push ~12 KB
    per row through the probe's shuffle at 3072-d) or an md5-of-JSON
    (whose rendering measurably slowed the ×10 corpus).  96 combined
    bits put an accidental-merge (two DISTINCT vectors sharing both
    hashes) at ~n²/2⁹⁷ — the same accepted-risk class as the text
    twin's md5.

    Identical-vector verdicts transfer exactly — identical vectors have
    identical cosines to everything — and intra-group pairs score
    round(cos(v, v), 6) = 1.0 (the two sqrt round-trips land within
    1e-15 of 1, far inside the 6 dp rounding).  Zero-norm groups emit no
    intra pairs, matching the direct path's NULL-score threshold drop.

    Same cost probe as the text wrapper: the indirection only pays on
    replica-heavy corpora (measured ×10: 25 M within-cell interpreted
    cosine folds → ~276 k over distinct reps), so below
    ``_FANOUT_MIN_DUP_RATIO`` the detector runs direct.  NOTE the two
    paths agree exactly on the EXACT-duplicate pair set (the planted
    oracle's subject), but boundary NEAR-dup pairs can differ: the
    quantizer fits on distinct reps here vs the replica-weighted corpus
    on the direct path, so cell boundaries shift — both are valid
    SemDeDup approximations (the paper's documented miss mode), not an
    output-identity contract.
    """
    fp = F.struct(
        F.xxhash64(F.col("v")).alias("h1"), F.hash(F.col("v")).alias("h2")
    )
    keyed = base.withColumn("_gfp", fp).persist()
    groups = (
        keyed.groupBy("_gfp")
        .agg(F.min("id").alias("gid"), F.count(F.lit(1)).alias("gn"))
        .persist()
    )
    head = groups.agg(
        F.count(F.lit(1)).alias("g"), F.coalesce(F.sum("gn"), F.lit(0)).alias("n")
    ).first()
    n_rows, n_groups = int(head["n"]), int(head["g"])
    dup_ratio = 0.0 if n_rows == 0 else 1.0 - n_groups / n_rows
    if dup_ratio < _FANOUT_MIN_DUP_RATIO:
        keyed.unpersist()
        groups.unpersist()
        return inner(base, n_rows)
    members = keyed.join(groups, "_gfp").select("id", "gid", "gn").persist()
    reps = base.join(
        members.filter(F.col("id") == F.col("gid")).select("id"), "id", "left_semi"
    )
    rep_pairs = inner(reps, n_groups)
    register_cached(keyed, groups, members)
    ga = members.select(F.col("gid").alias("id_a"), F.col("id").alias("_ma"))
    gb = members.select(F.col("gid").alias("id_b"), F.col("id").alias("_mb"))
    cross = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "cos_sim",
        )
    )
    # intra pairs only for groups with >1 member and a scorable (non-
    # zero-norm) vector; cos(v, v) rounds to exactly 1.0 at 6 dp.
    # eligibility reads the rep row's vector (groups carry only the fp)
    elig = (
        base.join(
            members.filter(F.col("gn") > 1)
            .select(F.col("gid").alias("id"))
            .distinct(),
            "id",
            "left_semi",
        )
        .filter(
            F.aggregate(
                F.col("v").cast("array<double>"), F.lit(0.0), lambda a, x: a + x * x
            )
            > 0
        )
        .select(F.col("id").alias("gid"))
    )
    dup_members = members.filter(F.col("gn") > 1).join(elig, "gid", "left_semi")
    m1 = dup_members.select("gid", F.col("id").alias("id_a"))
    m2 = dup_members.select("gid", F.col("id").alias("id_b"))
    intra = (
        m1.join(m2, "gid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("cos_sim"))
    )
    return cross.unionByName(intra)


def train_semantic_quantizer(
    embs: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 4,
) -> list[tuple[int, list[float]]]:
    """BUILD half of SemDeDup's coarse quantizer: KMeans centroids over
    the (deduplicated, non-null) embedding corpus.  Persist with
    ``operators.similarity.save_quantizer`` and feed repeat runs /
    the curate funnel via ``semantic_dedup_pairs(quantizer=...)`` so
    they pay assignment cost only — KMeans dominated the r5
    ``dedup_semantic`` wall (≈3.8–5 s of its sf0.1 minimum)."""
    from readwise_vector_db_spark.operators.similarity import build_ivf_index

    base = embs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).filter(
        F.col("v").isNotNull()
    )
    _, centroids = build_ivf_index(
        base, n_clusters=n_clusters, id_col="id", vec_col="v",
        seed=seed, max_iter=max_iter,
    )
    return centroids


def _within_cell_candidates_blas(
    assigned: DataFrame,
    threshold: float,
    max_cell_rows: int = 65_536,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """CANDIDATE half of the BLAS within-cell pair scorer: for each
    cluster, one Arrow batch → one (blocked) numpy gemm over the
    L2-normalized cell matrix, emitting pairs whose BLAS cosine clears
    ``threshold - 1e-4``.  The margin absorbs BLAS-vs-sequential-fold
    ulp drift (same contract as ``knn_join_blocked``); the caller
    re-scores candidates with the JVM fold, so the final output is
    bit-identical to the join+fold path.  Both vectors ride along
    through the Arrow boundary so rescoring never joins back into the
    corpus.

    Scale shape: the gemm is O(Σ c_i²·d) FLOPs — the same arithmetic
    the interpreted fold path performs, but vectorized (measured sf0.1
    probe: 1.4 M interpreted folds dominated the 3.9 s apply wall).

    **Hot-cell split (round 7).**  One cell = one pandas group, and
    applyInPandas materializes the WHOLE group in the worker — so one
    hot cell (a 50 %-of-corpus blob; crawl corpora produce these) used
    to put c rows × d float64 ×~3 copies in a single task.  Cells past
    ``max_cell_rows`` are now salted into ``s = ceil(c / cap)`` blocks
    by id hash and every block PAIR (t1 ≤ t2) becomes its own group:
    each row replicates into the s groups containing its block, the
    group key becomes (cluster, t1, t2), and the scorer masks to
    cross-block pairs when t1 ≠ t2 (same-block pairs belong to the
    (t, t) group), so every within-cell pair is emitted EXACTLY once —
    the candidate set is identical to the unsplit path (pinned in
    tests/test_skew.py).  Costs: per-task rows drop to ≤ 2·cap; the
    hot cell's rows replicate ×s through the one shuffle; cross-block
    gemms score both triangles so the split cell pays ≈2× the FLOPs —
    the classic blocked all-pairs trade, and only on cells that
    overflow the cap.  Cold cells have s=1 and take the identical
    single-group path, so the cap changes nothing until a cell
    actually overflows.  Sizing is one count aggregate over the
    PERSISTED narrow frame (assignment is usually a computed gemm per
    row — uncached, the sizing pass re-ran it and the r7 bench read a
    1.9× wall regression on dedup_semantic_probe), collected
    driver-side bounded by n_clusters; the join+explode plan is built
    only when some cell actually overflows, so cold corpora keep the
    r6 single-group plan.

    Zero-norm vectors are dropped up front: the fold path scores them
    NULL (no direction), which the threshold filter discards anyway.
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    id_type = assigned.schema["id"].dataType
    vec_type = ArrayType(DoubleType())
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("va", vec_type),
            StructField("vb", vec_type),
        ]
    )
    cut = threshold - 1e-4
    # object dtype: a default-constructed empty frame is float64, which
    # Arrow refuses to convert into the array<double> vector columns
    empty = pd.DataFrame(
        {c: pd.Series([], dtype=object) for c in ("id_a", "id_b", "va", "vb")}
    )

    def score_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if len(pdf) < 2:
            return empty
        cross = bool(pdf["t1"].iloc[0] != pdf["t2"].iloc[0])
        # sort by id so emitted (i, j) index pairs ARE id_a < id_b pairs
        # (pandas str sort = code-point order = Spark's UTF-8 byte order)
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        mat = np.asarray([list(v) for v in pdf["v"]], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        live = norms > 0
        if live.sum() < 2:
            return empty
        pdf = pdf[live].reset_index(drop=True)
        mat, norms = mat[live], norms[live]
        unit = mat / norms[:, None]
        ids = pdf["id"].tolist()
        vecs = [list(v) for v in pdf["v"]]
        tarr = pdf["t"].to_numpy()
        n, block = len(ids), 2048
        rows = []
        for s in range(0, n, block):
            e = min(s + block, n)
            sims = unit[s:e] @ unit[s:].T  # (e-s) × (n-s), cols j ≥ s
            for i in range(s, e):
                tail = sims[i - s, i - s + 1 :] >= cut
                if cross:
                    # cross-pair group: same-block pairs belong to the
                    # (t, t) group — masking here is what makes every
                    # pair land exactly once
                    tail &= tarr[i + 1 :] != tarr[i]
                hits = np.nonzero(tail)[0] + i + 1
                rows.extend((ids[i], ids[j], vecs[i], vecs[j]) for j in hits)
        if not rows:
            return empty
        return pd.DataFrame(rows, columns=["id_a", "id_b", "va", "vb"])

    # Sizing: the per-cell counts are bounded by n_clusters, so they
    # collect driver-side (the centroid-list policy).  The narrow frame
    # persists first — `assigned` is usually a COMPUTED assignment (a
    # gemm per row), and an uncached sizing pass would re-run it,
    # doubling the call's dominant cost (caught by the r7 bench:
    # dedup_semantic_probe 1.7 → 3.3 s before this cache).  Tracked in
    # the detector cache registry, drained on the next detector call.
    narrow = assigned.select("id", "v", "cluster").persist()
    register_cached(narrow)
    counts = {
        r["cluster"]: int(r["c"])
        for r in narrow.groupBy("cluster").agg(F.count("*").alias("c")).collect()
    }
    hot = {c: -(-n // int(max_cell_rows)) for c, n in counts.items()
           if n > max_cell_rows}
    if not hot:
        # no overflowing cell: the r6 single-group-per-cell plan,
        # byte-identical grouping (constant block columns)
        grouped = narrow.select(
            "id", "v", "cluster",
            F.lit(0).alias("t"), F.lit(0).alias("t1"), F.lit(0).alias("t2"),
        )
    else:
        # s blocks per cluster ride a tiny broadcast frame (n_clusters
        # rows — never a literal map, the py4j plan pathology)
        spark = assigned.sparkSession
        sizes = F.broadcast(
            spark.createDataFrame(
                [(int(c), int(hot.get(c, 1))) for c in counts],
                "cluster int, _s int",
            )
        )
        t = F.pmod(
            hash64(F.col("id").cast("string"), base_hash), F.col("_s")
        ).cast("int")
        groups = F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("_s") - 1),
                lambda u: F.struct(
                    F.least(F.col("_t"), u).alias("t1"),
                    F.greatest(F.col("_t"), u).alias("t2"),
                ),
            )
        )
        grouped = (
            narrow.join(sizes, "cluster")
            .withColumn("_t", t)
            .withColumn("_g", groups)
            .select(
                "id", "v", "cluster",
                F.col("_t").alias("t"),
                F.col("_g.t1").alias("t1"),
                F.col("_g.t2").alias("t2"),
            )
        )
    return grouped.groupBy("cluster", "t1", "t2").applyInPandas(
        score_group, schema=out_schema
    )


def semantic_dedup_pairs(
    embs: DataFrame,
    threshold: float = 0.999,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    # the quantizer only PARTITIONS comparisons — byte-identical dups
    # co-cluster under any stable assignment, and near-dup recall at the
    # boundary is a property of cell count, not Lloyd convergence.
    # Measured: 4 iters = identical pair output at 27 % less wall than 8.
    max_iter: int = 4,
    quantizer: list[tuple[int, list[float]]] | None = None,
    pair_scorer: str = "blas",
    # per-task row bound for the BLAS scorer's pandas groups; cells past
    # it split into salted block-pairs (identical pair set, see
    # _within_cell_candidates_blas).  Cold cells are untouched.
    max_cell_rows: int = 65_536,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    pairs found by KMeans-clustering the embedding space and comparing
    pairs only WITHIN a cluster.

    The cluster-equality equi-join is the entire scale argument: the
    shuffle key is the cluster id, so pair generation is O(Σ c_i²) over
    cluster sizes instead of O(n²) over the corpus — with k chosen ~√n
    (SemDeDup used 50 k clusters over LAION), the expected quadratic
    term is n·(n/k).  The quantizer reuses the IVF coarse KMeans
    (operators/similarity.py:build_ivf_index) — the same capped-Lloyd
    economics apply, since near-identical vectors land in the same cell
    under ANY stable centroid assignment.

    Recall caveat (same as the paper's): a near-dup pair straddling a
    cluster boundary is missed.  Identical vectors can never straddle
    (same distances → same argmin cell), so exact-duplicate recall is
    1.0 by construction — the planted oracle in suites/dedup.py
    hash-checks exactly that; boundary-pair recall is measured in
    tests/test_semantic_dedup.py.

    Replica-heavy corpora route through ``_vector_group_fanout`` (same
    cost probe as the shingle detectors): byte-identical vectors
    collapse to one representative before KMeans AND pair generation,
    then verdicts fan back out.  Measured at the ×10 replica corpus
    (90 % dups): the direct within-cell join evaluates ~25 M interpreted
    cosine folds (higher-order exprs don't enter codegen) — minutes of
    CPU — vs ~276 k over distinct reps.  Per-row norms are precomputed
    so each surviving pair costs one fold, not three.

    ``quantizer`` (a centroid list from :func:`train_semantic_quantizer`
    / ``similarity.load_quantizer``) switches cell assignment from
    per-call KMeans to a map-only nearest-centroid pass over FIXED
    centroids (``similarity.assign_cells``) — the probe path: repeat
    runs and the curate funnel pay O(k·d) per row, no Lloyd iterations,
    no ML pipeline.  Exact-duplicate recall stays 1.0 by the same
    argument (identical vectors co-assign under any fixed centroid
    set); boundary near-dup pairs may differ from a fresh fit, which is
    the SemDeDup approximation contract either way.
    """
    from readwise_vector_db_spark.operators.similarity import (
        assign_cells,
        build_ivf_index,
    )

    begin_detector_call()
    base0 = embs.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())

    def inner(frame: DataFrame, n_hint: int) -> DataFrame:
        # n_hint = exact row count of ``frame`` (the fan-out wrapper
        # already aggregated it); degenerate frames can't pair, and
        # KMeans requires 2 ≤ k ≤ n
        if n_hint < 2:
            return frame.select(
                F.col("id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(0.0).alias("cos_sim"),
            ).limit(0)
        if quantizer is not None:
            assigned = assign_cells(frame, quantizer, vec_col="v")
        else:
            assigned, _ = build_ivf_index(
                frame,
                n_clusters=max(2, min(n_clusters, n_hint)),
                id_col="id",
                vec_col="v",
                seed=seed,
                max_iter=max_iter,
            )
        if pair_scorer == "blas":
            cand = _within_cell_candidates_blas(
                assigned, threshold, max_cell_rows=max_cell_rows
            )
            cos = F.round(
                cosine_similarity(F.col("va"), F.col("vb")), 6
            )
            return (
                cand.select("id_a", "id_b", cos.alias("cos_sim"))
                .filter(F.col("cos_sim") >= threshold)
            )
        norm = F.sqrt(
            F.aggregate(
                F.col("v").cast("array<double>"), F.lit(0.0), lambda a, x: a + x * x
            )
        )
        scored = assigned.select("id", "v", "cluster", norm.alias("n"))
        a, b = scored.alias("a"), scored.alias("b")
        cos = F.round(
            cosine_similarity(
                F.col("a.v"), F.col("b.v"), a_norm=F.col("a.n"), b_norm=F.col("b.n")
            ),
            6,
        )
        return (
            a.join(
                b,
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                cos.alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    return _vector_group_fanout(base0, inner)


def semantic_dedup(
    embs: DataFrame,
    threshold: float = 0.999,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    quantizer: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Semantic-dedup survivors: drop all but one row per near-dup group.

    Groups are the connected components of the within-cluster pair graph
    (transitive: a≈b and b≈c collapse to one survivor even when a-c
    alone is under threshold); the kept representative is the group's
    minimum id — the same winner rule as ``exact_dedup``.  The CC runs
    on the pair list only (O(|pairs|), not O(n)); survivors come from a
    left-anti join of the loser ids, so the corpus never reshuffles.

    ``connected_components`` labels vertices as longs; non-numeric ids
    are densified first — a row_number over the DISTINCT ids appearing
    in pairs (the duplicate-involved subset, tiny next to the corpus),
    mapped back after resolution.  Without this, string ids would cast
    to NULL inside the CC and the dedup would silently keep everything.
    """
    from pyspark.sql.types import NumericType
    from pyspark.sql.window import Window

    from readwise_vector_db_spark.operators.graph import connected_components

    pairs = semantic_dedup_pairs(
        embs,
        threshold=threshold,
        n_clusters=n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        quantizer=quantizer,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    numeric_ids = isinstance(embs.schema[id_col].dataType, NumericType)
    if not numeric_ids:
        # the densify reads the pair list three times (both vertex
        # branches and the id-mapping joins): cache it so the scorer
        # runs once
        scored = edges.persist()
        verts = (
            scored.select(F.col("src").alias("oid"))
            .union(scored.select("dst"))
            .distinct()
        )
        # global row_number: one single-partition pass over the
        # duplicate-involved vertex set only — bounded by |pairs|·2
        mapping = verts.withColumn(
            "nid", F.row_number().over(Window.orderBy("oid"))
        ).persist()
        edges = (
            scored.join(mapping.withColumnRenamed("oid", "src"), "src")
            .select(F.col("nid").alias("src"), "dst")
            .join(mapping.withColumnRenamed("oid", "dst"), "dst")
            .select("src", F.col("nid").alias("dst"))
        )
    comps = connected_components(
        edges,
        distinct_edges=False,  # a<b pair list is already duplicate-free
    )
    losers = comps.filter(F.col("id") != F.col("component")).select("id")
    if not numeric_ids:
        losers = losers.join(
            mapping.withColumnRenamed("nid", "id"), "id"
        ).select(F.col("oid").alias(id_col))
        register_cached(scored, mapping)
    else:
        losers = losers.select(F.col("id").alias(id_col))
    return embs.join(losers, id_col, "left_anti")


def repeated_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_repeats: int = 2,
) -> DataFrame:
    """Corpus-wide repeated n-token spans — the exact-substring dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (ACL 2022), at fixed window granularity instead of
    suffix arrays (which don't distribute).  Document-level detectors
    (exact / minhash / simhash above) miss boilerplate REGIONS inside
    otherwise-unique documents — license headers, navigation chrome,
    templated intros — which is exactly the content LM training wants
    cut at span granularity.

    Returns (id, pos, ngram, n_occurrences): every 0-based token
    position whose n-token window occurs ``min_repeats``+ times anywhere
    in the corpus (across documents or within one).  Callers mask or cut
    the spans; the windows themselves are whitespace tokens joined by a
    single space (ws_tokens — the repo's tokenization contract).

    Scale shape — window STRINGS never shuffle corpus-wide:

    1. one map pass derives (id, pos, xxhash64(window));
    2. the hot-hash aggregate shuffles 8-byte hashes with map-side
       partial counts — the only corpus-sized exchange;
    3. candidate positions (ints) semi-join the hot hashes;
    4. candidate documents re-derive ONLY their candidate windows
       (token arrays co-join once per doc) and the final aggregate
       groups the candidate STRINGS — a hash collision dies at the
       exact string count, and the shuffle is bounded by the
       repeated-content volume, i.e. the result itself.

    Skew note: the exact-count groupBy absorbs a hot window via partial
    aggregation, and the count-annotate join back onto the occurrences
    broadcasts while the distinct-window set is small; when it exceeds
    the broadcast threshold at corpus scale the join keys on the hot
    window itself, which is exactly the shape AQE's skew-join splitting
    (enabled in session.py) handles — the splittable side is the
    occurrence stream, the replicated side is one (window, count) row.
    The CUT rule downstream is hot-key-free by construction (round 9 —
    see :func:`drop_repeated_spans`)."""
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), ws_tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= n)
    )
    # Hash the token SLICE directly (round 12): pass 1 used to build the
    # joined window string for every position and hash that — O(n) char
    # copying per window, thrown away immediately.  xxhash64 over the
    # array<string> slice is an equally deterministic function of the
    # window content (for fixed n, join-by-single-space is bijective —
    # ws_tokens never emits a token containing whitespace — so string
    # equality ⇔ slice equality), and any hash choice only shapes the
    # CANDIDATE set: stage 5's exact string count decides membership, so
    # the output is bit-identical.  Window strings are now built only
    # for candidates (stage 4).
    hashed = base.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - F.lit(n) + 1),
                lambda i: F.xxhash64(F.slice("toks", i, n)),
            )
        ).alias("pos", "h"),
    )
    # TWO consumers — the hot-hash count aggregate and the candidate
    # semi-join — and without a persist each one re-runs the full
    # corpus scan + tokenize + per-window hash pass (round 13; the r12
    # executed plan showed three separate parquet scans feeding this
    # operator, one of them existing only to recompute `hashed` for the
    # aggregate).  The cache is (id, pos, h) — 20 bytes per window, no
    # strings — the same order as the tokenized input it replaces a
    # second derivation of; MEMORY_AND_DISK spills rather than OOMs and
    # the detector-cache registry drains it with every other dedup
    # cache between bench reps.
    hashed = hashed.persist()
    register_cached(hashed)
    hot = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_repeats)
    )
    cand_pos = hashed.join(hot.select("h"), "h", "left_semi")
    per_doc = cand_pos.groupBy("id").agg(F.collect_list("pos").alias("_ps"))
    # Rebuild tokenizes AFTER the candidate join (round 13, guide §1.2):
    # joining `base` re-tokenized EVERY document and then threw the
    # non-candidates away at the join — the split is the expensive part
    # of the pass, and only candidate docs need their token arrays to
    # build window strings.  Joining raw (id, text) first defers the
    # split to the matched rows.  base's ≥n-token guard moves INSIDE
    # the generator (when() nulls the array, explode emits nothing) —
    # an explicit .filter(size(toks) >= n) here would be pushed below
    # the join by Catalyst, re-tokenizing every document on the scan
    # side (measured: the pushed filter's size(split(text)) ran over
    # the full corpus AND the candidate project split again — strictly
    # worse than before the change).  The guard itself only matters if
    # an id is duplicated across texts (the candidate join is
    # id-equality); emitting zero spans for a sub-n-token row is
    # row-identical to filtering that row out.
    spans = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
        .join(per_doc, "id")
        .select("id", ws_tokens(F.col("_txt")).alias("toks"), "_ps")
        .select(
            "id",
            F.explode(
                F.when(
                    F.size("toks") >= n,
                    F.transform(
                        "_ps",
                        lambda p: F.struct(
                            p.cast("int").alias("pos"),
                            F.concat_ws(
                                " ", F.slice("toks", p + F.lit(1), n)
                            ).alias("ngram"),
                        ),
                    ),
                )
            ).alias("s"),
        )
        .select("id", F.col("s.pos").alias("pos"), F.col("s.ngram").alias("ngram"))
    )
    # The candidate-span frame has TWO consumers — the exact-count
    # aggregate and the confirm join-back — and without a persist the
    # whole rebuild subtree (corpus scan + per_doc co-join + window
    # string build) executes once per consumer (round 12, guide §2.4:
    # measured as the duplicated subtree in the executed plan).  The
    # frame is candidate-sized (hash-hot windows only — the volume the
    # result itself is bounded by), so materializing it beats
    # re-deriving it from the full corpus at any scale; MEMORY_AND_DISK
    # (persist default) spills rather than OOMs, and the detector-cache
    # registry releases it with every other dedup cache.
    spans = spans.persist()
    register_cached(spans)
    exact = (
        spans.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_repeats)
    )
    return spans.join(exact, "ngram").select(
        F.col("id").alias(id_col), "pos", "ngram", "n_occurrences"
    )


def _maximal_run_positions(
    pos_df: DataFrame, n: int, min_span_tokens: int
) -> DataFrame:
    """(id, pos) window positions lying in MAXIMAL consecutive runs of
    corpus-repeated windows whose region covers ≥ ``min_span_tokens``
    tokens — the full Lee et al. semantics (duplicated regions of
    length ≥ L) recovered from window granularity (round 10 — r9
    verdict item 6): a region of L tokens every one of whose n-windows
    is corpus-repeated is a maximal duplicated region of length
    run_len + n − 1.  Gaps-and-islands formulation: ``pos − row_number``
    is constant exactly within a consecutive run, so runs merge LOCALLY
    per document — the window is partitioned by doc id and bounded by
    document length, never corpus-hot, and window STRINGS still never
    shuffle (input is the (id, pos) int pairs)."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    runs = (
        pos_df.select("id", "pos")
        .distinct()
        .withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "_grp")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
        .filter(F.col("_e") - F.col("_s") + F.lit(n) >= min_span_tokens)
    )
    return runs.select("id", F.explode(F.sequence("_s", "_e")).alias("pos"))


def dup_token_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_repeats: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """(id, dup_tokens) for every document with ≥1 corpus-repeated
    n-token window — the coverage half of :func:`doc_dup_fraction`,
    factored out (round 13) so consumers that already know each doc's
    token count (the fused signal frame) can join the RESULT-SIZED
    coverage counts directly instead of paying doc_dup_fraction's
    third corpus scan + tokenize just to re-derive n_tokens.

    Coverage = |union of the [pos, pos+n-1] intervals| per doc.  The
    old plan exploded every position n ways and paid a corpus-wide
    distinct on (id, token_index) plus a second per-id aggregate —
    two shuffles of 8×-fanned-out ints.  Interval union needs ONE
    per-doc pass (round 12, guide §2.3): sort positions within the
    doc, open a new island whenever pos exceeds the running max end
    of everything before it (equal-length intervals ⇒ islands have no
    internal gaps; an adjacent interval starts a new island, which
    sums identically), and total Σ(max_pos − min_pos + n) per island.
    Input (id, pos) is unique by construction: repeated_ngram_spans
    emits one row per window position, and _maximal_run_positions
    explodes disjoint runs of a distinct set.  One window shuffle by
    id, then both aggregates reuse that partitioning — zero further
    exchanges, and the 8× fan-out never exists."""
    spans = repeated_ngram_spans(
        docs, id_col=id_col, text_col=text_col, n=n, min_repeats=min_repeats
    )
    pos_df = spans.select(F.col(id_col).alias("id"), "pos")
    if min_span_tokens is not None:
        pos_df = _maximal_run_positions(pos_df, n, min_span_tokens)
    from pyspark.sql import Window

    w_doc = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(n - 1)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = pos_df.withColumn(
        "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).withColumn(
        "_isl", F.sum("_new").over(w_doc.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("id", "_isl")
        .agg((F.max("pos") - F.min("pos") + F.lit(n)).alias("_len"))
        .groupBy("id")
        .agg(F.sum("_len").cast("int").alias("dup_tokens"))
    )


def doc_dup_fraction(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_repeats: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """(id, n_tokens, dup_tokens, dup_fraction): the fraction of each
    document's tokens covered by ANY corpus-repeated n-token window —
    the "duplicated n-gram fraction" quality signal the published web
    curation pipelines filter on (RefinedWeb/FineWeb-class "fraction of
    characters in duplicated n-grams"; Rae et al.'s Gopher rules), at
    this repo's token granularity.  Unlike :func:`drop_repeated_spans`
    this SCORES instead of cutting, and counts every occurrence
    including the kept first one — the signal is "how much of this doc
    is content shared elsewhere", a filter threshold input, not a cut
    rule.

    ``min_span_tokens`` (round 10): count only tokens inside MAXIMAL
    duplicated regions of at least that many tokens (the Lee et al.
    length threshold — see :func:`_maximal_run_positions`); None keeps
    the every-repeated-window behavior.

    Scale shape: detection is :func:`repeated_ngram_spans` (strings
    never shuffle); coverage is :func:`dup_token_coverage`'s one-pass
    interval union over the REPEATED window positions only
    (result-sized, one shuffle by id), and the final join brings in
    only (id, token-count) — document text never shuffles."""
    cov = dup_token_coverage(
        docs, id_col=id_col, text_col=text_col, n=n,
        min_repeats=min_repeats, min_span_tokens=min_span_tokens,
    )
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.size(ws_tokens(F.col(text_col))).cast("int").alias("n_tokens"),
    )
    return (
        base.join(cov, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            dup_fraction_col().alias("dup_fraction"),
        )
    )


def dup_fraction_col() -> Column:
    """``dup_fraction`` over the ``n_tokens`` and (nullable, left-joined)
    ``dup_tokens`` columns: the duplicated share of a document's tokens,
    0 for an empty document, HALF-UP rounded to 6 dp."""
    return F.round(
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            / F.col("n_tokens").cast("double"),
        ).otherwise(F.lit(0.0)),
        6,
    )


def drop_repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_repeats: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """The actionable half of :func:`repeated_ngram_spans` — Lee et
    al.'s cut rule: every occurrence of a repeated n-token window is
    REMOVED except the globally first one (min (id, pos) per window),
    at token granularity.  Returns (id, clean_text, n_tokens_removed)
    for every non-null-text document; documents without repeated
    content pass through with their tokens rejoined by single spaces
    (the corpus's ws_tokens contract — byte-identical for
    single-spaced text).

    Granularity honesty: masking is per TOKEN INDEX — a token covered
    by a cut window is removed even if a kept (first-occurrence) window
    also spans it, exactly like char-span cutting in the published
    pipeline; both engines apply the same rule, so the oracle pins it.

    Scale shape: detection is :func:`repeated_ngram_spans` (strings
    never shuffle corpus-wide); the keep/cut rule and the token-index
    union then operate on the REPEATED subset only (the result-sized
    frames), and the rebuild is one co-join of cut docs with their
    token arrays — untouched documents never shuffle their text.

    Skew: the cut rule only needs the MIN (id, pos) per window, so it
    is a ``groupBy(ngram).agg(min(struct(id, pos)))`` — partial
    aggregation absorbs a corpus-scale hot window map-side (a
    boilerplate n-gram occurring 10⁸× never collects in one task) —
    followed by an anti-join on the COMPOSITE (ngram, id, pos) key,
    whose hash spreads the hot n-gram's occurrences uniformly.  The
    earlier ``row_number() over (partitionBy(ngram))`` formulation
    serialized the hottest window into a single task's sort.

    ``min_span_tokens`` (round 10): cut only occurrences lying in
    MAXIMAL duplicated regions of at least that many tokens — the full
    Lee et al. length-≥-L rule (short incidental repeats pass through
    untouched, and the keep-first rank is computed among the QUALIFYING
    occurrences only); None keeps window granularity."""
    spans = repeated_ngram_spans(
        docs, id_col=id_col, text_col=text_col, n=n, min_repeats=min_repeats
    )
    if min_span_tokens is not None:
        qual = _maximal_run_positions(
            spans.select(F.col(id_col).alias("id"), "pos"), n, min_span_tokens
        ).select(F.col("id").alias(id_col), "pos")
        spans = spans.join(qual, [id_col, "pos"], "left_semi")
    firsts = (
        spans.groupBy("ngram")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_f"))
        .select(
            "ngram",
            F.col(f"_f.{id_col}").alias(id_col),
            F.col("_f.pos").alias("pos"),
        )
    )
    cut = spans.join(firsts, ["ngram", id_col, "pos"], "left_anti")
    cov = (
        cut.select(
            F.col(id_col).alias("id"),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("i"),
        )
        .groupBy("id")
        .agg(F.collect_set("i").alias("_cov"))
    )
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), ws_tokens(F.col(text_col)).alias("toks"))
    )
    joined = base.join(cov, "id", "left").withColumn(
        "_cov", F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    )
    kept_idx = F.array_sort(
        F.array_except(
            F.sequence(F.lit(0), F.size("toks") - F.lit(1)), F.col("_cov")
        )
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.concat_ws(
            " ", F.transform(kept_idx, lambda i: F.element_at("toks", i + F.lit(1)))
        ).alias("clean_text"),
        F.size("_cov").cast("int").alias("n_tokens_removed"),
    )
