"""Incremental corpus dedup: new batches against the historical store.

The batch curation funnel (jobs/curate.py) dedups a corpus against
ITSELF; a production ingest is incremental — today's crawl must also be
deduped against everything already accepted.  Re-running the full-corpus
funnel per increment is O(corpus) per day; the incremental shape is
O(batch + matching-candidates):

1. in-batch exact dedup (min id per normalized text),
2. historical exact dedup: anti-join the batch's fingerprints against
   the store's fingerprint column (one narrow join — the store's TEXT
   is never read),
3. historical near-dup: band the batch's MinHash signatures and join
   them against the bands of the store's STORED signatures (signatures
   are computed once at accept time; banding a stored signature is a
   cheap projection).  The batch side is broadcast — the store scans
   but never shuffles.  Candidates verify by signature agreement ≥
   threshold; matches are dropped,
4. survivors append to a :class:`VersionedTable` carrying
   (id, fp, sig) — the store IS the index: each increment's signatures
   are computed once, at accept time, never recomputed.

At 100 TB the store-side near-dup join must never shuffle the store.
Two layouts, chosen by ``batch_join``:

- ``"broadcast"`` (default): the increment's band table is broadcast
  and the store is probed map-side — right while increments fit the
  broadcast threshold.
- ``"bucketed"``: the store maintains a band INDEX — an external
  parquet table ``{root}/_bands`` bucketed on the band hash
  (``ensure_band_index``/``append_band_index``) — so the join reads
  store buckets in place and shuffles ONLY the batch side
  (O(increment), proven Exchange-free on the store side in
  tests/test_incremental_dedup.py).  The band index is derived state:
  it appends after each versioned commit, and a crash between the two
  leaves it lagging, never wrong the other way (missed store rows can
  only under-drop); a ``_SYNCED_VERSION`` marker makes that staleness
  detectable, and the probe path auto-invokes ``rebuild_band_index``
  (the idempotent repair that regenerates the index from the store
  snapshot) whenever the marker trails the store — which also covers
  the broadcast→bucketed migration, where the index starts empty
  against a populated store.

The streaming face (``run_incremental_dedup``) runs the same batch
processor under ``foreachBatch``, exactly how jobs/sync.py wires
incremental ingest; snapshot isolation comes from the VersionedTable
pointer flip.

No reference counterpart (its only dedup is upsert-by-id,
``db/supabase_ops.py:112-208``) — north-star scope, SURVEY §2.7.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readwise_vector_db_spark import storage
from readwise_vector_db_spark.functions.text import fingerprint_md5
from readwise_vector_db_spark.operators.dedup import (
    N_HASHES,
    band_keys,
    minhash_signatures,
)
from readwise_vector_db_spark.sources.versioned import VersionedTable

STORE_SCHEMA = "doc_id LONG, fp STRING, sig ARRAY<BIGINT>"

BAND_BUCKETS = 32


# --- bucketed band index (the beyond-broadcast store layout) ----------------


def _band_table_name(store_root: str) -> str:
    digest = hashlib.md5(store_root.encode()).hexdigest()[:12]
    return f"rvdb_inc_bands_{digest}"


def synced_version(store_root: str) -> int:
    """Store version whose rows the band index fully covers (0 = never
    synced).  The marker makes index staleness DETECTABLE: without it,
    a store migrated from ``batch_join="broadcast"`` — or one whose
    writer crashed between ``commit_append`` and the index append —
    probes an empty/lagging index and silently under-drops."""
    try:
        with open(f"{store_root}/_bands/_SYNCED_VERSION") as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return 0


def _write_synced_version(store_root: str, version: int) -> None:
    import os

    os.makedirs(f"{store_root}/_bands", exist_ok=True)
    storage.atomic_write_text(f"{store_root}/_bands/_SYNCED_VERSION", str(version))


def ensure_band_index(
    spark: SparkSession,
    store_root: str,
    n_buckets: int = BAND_BUCKETS,
    repair: bool = True,
) -> str:
    """Register (idempotently) the store's band index: an EXTERNAL
    parquet table at ``{store_root}/_bands`` clustered on the band
    hash.  External + path-addressed, so a fresh session re-attaches to
    the on-disk layout with one DDL — the catalog entry is metadata,
    the bucketed files are the index.

    With ``repair=True`` (the read/probe path) a LAGGING index — synced
    version behind the store's latest, which is exactly the state after
    a broadcast→bucketed migration (index empty, store populated) or a
    crash between the versioned commit and the index append — triggers
    :func:`rebuild_band_index` automatically, so a probe can never
    silently skip historical signatures.  Maintenance writers
    (``append_band_index``/``rebuild_band_index``) pass ``repair=False``
    — they are the ones ABOUT to advance the sync marker."""
    name = _band_table_name(store_root)
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE {name} (bh STRING, sig ARRAY<BIGINT>) USING parquet"
            f" CLUSTERED BY (bh) SORTED BY (bh) INTO {n_buckets} BUCKETS"
            f" LOCATION '{store_root}/_bands'"
        )
    if repair:
        store = VersionedTable(store_root)
        latest = store.latest_version() or 0
        if latest > synced_version(store_root):
            rebuild_band_index(spark, store, n_buckets)
    return name


def append_band_index(
    spark: SparkSession,
    rows: DataFrame,
    store_root: str,
    n_buckets: int = BAND_BUCKETS,
    synced_version: int | None = None,
) -> None:
    """Append one increment's (band hash, signature) rows to the band
    index, then advance the sync marker to ``synced_version`` — the
    version whose rows the CALLER just wrote (the just-committed version
    for appends, the pinned snapshot for rebuilds).  Round-7 fix: the
    marker used to re-read the store's latest_version at write time,
    which over-claims coverage of rows committed by a peer mid-call — a
    probe in that window would skip repair and silently under-drop,
    violating the marker's "never wrong the optimistic way" contract.
    ``None`` keeps the legacy re-read for standalone maintenance calls
    where no snapshot is pinned.  O(increment) write into the bucketed
    layout; each append adds ≤ n_buckets files (same small-file growth
    as the versioned segments — compact on the same cadence)."""
    name = ensure_band_index(spark, store_root, n_buckets, repair=False)
    bands = rows.filter(F.col("sig").isNotNull()).select(
        F.explode(band_keys("sig")).alias("bh"), "sig"
    )
    (
        bands.write.mode("append")
        .format("parquet")
        .bucketBy(n_buckets, "bh")
        .sortBy("bh")
        .saveAsTable(name)
    )
    if synced_version is None:
        synced_version = VersionedTable(store_root).latest_version() or 0
    _write_synced_version(store_root, synced_version)


def rebuild_band_index(
    spark: SparkSession, table: VersionedTable, n_buckets: int = BAND_BUCKETS
) -> None:
    """Idempotent repair/compaction: regenerate the band index from the
    current store snapshot (drops the catalog entry and rewrites the
    bucketed files in one pass over the store).  The snapshot version is
    pinned BEFORE the scan so the marker never claims rows committed
    mid-rebuild."""
    name = _band_table_name(table.root)
    pinned = table.latest_version()
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    import shutil

    shutil.rmtree(f"{table.root}/_bands", ignore_errors=True)
    if pinned is None:
        return
    append_band_index(
        spark,
        table.read(spark, version=pinned),
        table.root,
        n_buckets,
        synced_version=pinned,
    )


def _with_fp_sig(
    fpd: DataFrame, id_col: str, text_col: str, k: int, base_hash: str
) -> DataFrame:
    """(id_col, fp, sig) for every doc — the store row shape.  Docs too
    short to shingle carry a NULL sig (they can exact-match only).
    ``fpd`` already carries the fingerprint column — computed exactly
    once per batch row, upstream."""
    sigs = minhash_signatures(
        fpd, k=k, id_col=id_col, text_col=text_col, base_hash=base_hash
    ).select(F.col("id").alias(id_col), "sig")
    return fpd.select(id_col, "fp").join(sigs, id_col, "left")


def dedup_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    table: VersionedTable,
    threshold: float = 0.6,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_hash: str = "xxhash64",
    batch_join: str = "broadcast",
) -> dict[str, int]:
    """Process one increment: drop in-batch exact dups, historical exact
    dups, and historical near-dups (est-Jaccard ≥ ``threshold`` against
    any stored signature); append survivors' (id, fp, sig) to the store.
    ``batch_join`` picks the store-side layout (module docstring):
    ``"broadcast"`` probes the store with broadcast batch bands;
    ``"bucketed"`` joins against the bucketed band index so a
    larger-than-broadcast increment shuffles only itself.  Returns
    per-stage row accounting."""
    if batch_join not in ("broadcast", "bucketed"):
        raise ValueError(f"batch_join must be broadcast|bucketed, got {batch_join!r}")
    stats: dict[str, int] = {"batch_raw": batch.count()}

    # ONE fingerprint pass per batch row: fp drives the in-batch exact
    # dedup, the store row shape, and the historical anti-join.
    # Persisted because winners/dedup/signature lineages all read it.
    fpd = batch.select(
        F.col(id_col), F.col(text_col), fingerprint_md5(text_col).alias("fp")
    ).persist()
    winners = fpd.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    deduped = fpd.join(winners, id_col, "left_semi")
    rows = _with_fp_sig(deduped, id_col, text_col, k, base_hash).persist()
    stats["after_batch_exact"] = rows.count()

    if table.exists():
        store = table.read(spark)
        # historical exact: fingerprint anti-join — narrow columns only
        fresh = rows.join(store.select("fp"), "fp", "left_anti")
        # historical near-dup: band batch sigs vs store sigs, verify by
        # signature agreement (the unbiased Jaccard estimator — same
        # statistic minhash_lsh_pairs reports)
        nb = fresh.filter(F.col("sig").isNotNull()).select(
            F.col(id_col), F.col("sig").alias("sig_n"),
            F.explode(band_keys("sig")).alias("bh"),
        )
        if batch_join == "bucketed":
            # store side = the pre-bucketed band index: scanned in
            # place, zero store-side Exchange; only the batch bands
            # shuffle (into the index's bucketing) — O(increment)
            sb = spark.table(ensure_band_index(spark, table.root)).select(
                "bh", F.col("sig").alias("sig_s")
            )
            joined = sb.join(nb, "bh")
        else:
            # broadcast the BATCH bands: the store — the ever-growing
            # side — is probed map-side and never shuffles
            sb = store.filter(F.col("sig").isNotNull()).select(
                F.col("sig").alias("sig_s"),
                F.explode(band_keys("sig")).alias("bh"),
            )
            joined = sb.join(F.broadcast(nb), "bh")
        agree = F.size(
            F.filter(F.zip_with("sig_n", "sig_s", lambda x, y: x == y), lambda t: t)
        )
        near_ids = (
            joined.filter((agree.cast("double") / F.lit(N_HASHES)) >= threshold)
            .select(id_col)
            .distinct()
        )
        survivors = fresh.join(near_ids, id_col, "left_anti")
    else:
        survivors = rows
    survivors = survivors.select(id_col, "fp", "sig").persist()
    stats["accepted"] = survivors.count()

    if stats["accepted"] > 0 or not table.exists():
        # append-only: the commit writes THIS increment's survivors and
        # publishes a segment-sharing snapshot — O(batch) I/O per
        # increment, never a store rewrite
        committed_v = table.commit_append(survivors)
        if batch_join == "bucketed":
            # derived index appends AFTER the commit: a crash between
            # leaves the index lagging (repairable via
            # rebuild_band_index), never referencing uncommitted rows.
            # The marker advances to exactly the version JUST committed,
            # never a peer's later one
            append_band_index(
                spark, survivors, table.root, synced_version=committed_v
            )
    stats["store_version"] = table.latest_version() or 0
    survivors.unpersist()
    rows.unpersist()
    fpd.unpersist()
    return stats


def run_incremental_dedup(
    spark: SparkSession,
    stream_docs: DataFrame,
    store_root: str,
    threshold: float = 0.6,
    **kwargs,
):
    """Streaming face: wire the batch processor under ``foreachBatch``
    (the micro-batch pattern jobs/sync.py uses for ingest).  Each
    micro-batch dedups against the store as of its start — exactly the
    semantics a daily-increment pipeline has."""
    table = VersionedTable(store_root)

    compact_every = kwargs.pop("compact_every", 64)

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        dedup_batch_against_store(
            spark, batch_df, table, threshold=threshold, **kwargs
        )
        # Compaction cadence: every append adds a segment (and, in
        # bucketed mode, ≤ BAND_BUCKETS index files), so read fan-in
        # grows linearly with commits — measured in SCALING.md.  Folding
        # every `compact_every` commits keeps per-read file counts
        # bounded at O(compact_every) while staying O(table)-rare;
        # compaction is itself just a commit, so readers keep snapshot
        # isolation throughout and the band index is rebuilt from the
        # compacted snapshot (idempotent repair path doubling as
        # index compaction).
        v = table.latest_version() or 0
        if compact_every and v % compact_every == 0 and v > 0:
            table.compact(spark, target_files=spark.sparkContext.defaultParallelism)
            if kwargs.get("batch_join") == "bucketed":
                rebuild_band_index(spark, table)

    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{store_root}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


# --- semantic incremental dedup (the embedding-space twin) ------------------

SEM_STORE_SCHEMA = "vec_id LONG, v ARRAY<FLOAT>, n DOUBLE, cluster INT"


def semantic_dedup_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    table: VersionedTable,
    quantizer: list[tuple[int, list[float]]],
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, int]:
    """SemDeDup against a versioned embedding store: drop batch rows
    whose embedding is byte-identical or semantically near (rounded
    cosine ≥ ``threshold``) to an already-accepted row, then append the
    survivors' (id, v, n, cluster) — the store IS the index, exactly
    the shape of the shingle path's (fp, sig) rows:

    1. in-batch exact-vector dedup — groupBy the 12-byte JVM-native
       vector fingerprint (xxhash64 + murmur3, the
       ``_vector_group_fanout`` key), min id wins;
    2. in-batch semantic dedup — :func:`semantic_dedup` with the SAME
       persisted quantizer (no per-increment KMeans);
    3. historical probe — ``assign_cells`` the batch (map-only argmin
       over the fixed centroids), broadcast it, and join the store on
       cell equality: the store — the ever-growing side — scans IN
       PLACE and never shuffles (proven Exchange-free in
       tests/test_incremental_dedup.py), the batch ships once as a
       BroadcastExchange, and each surviving candidate pair costs ONE
       interpreted fold (both norms ride precomputed, the store's from
       its accept-time row).  O(increment · matching-cell candidates),
       never O(store);
    4. survivors append via :class:`VersionedTable` (CAS-serialized,
       snapshot-isolated — same commit path as the shingle store).

    The quantizer is the PERSISTED serving artifact
    (``operators/similarity.save_quantizer`` /
    ``dedup.train_semantic_quantizer``) — cell assignments are stable
    across increments by construction, so a batch row and its stored
    near-twin co-assign whenever the fused detector would have
    co-clustered them (identical vectors always; boundary-straddling
    near-dups are the documented SemDeDup miss mode, unchanged here).
    Increments past the broadcast threshold chunk into several calls
    (each chunk is an increment; dedup-against-store is associative
    because accepted rows commit before the next chunk probes).

    No reference counterpart (reference dedup is upsert-by-id,
    ``db/supabase_ops.py:112-208``) — north-star scope, SURVEY §2.7.
    """
    from readwise_vector_db_spark.functions.vector import cosine_similarity, l2_norm
    from readwise_vector_db_spark.operators.dedup import semantic_dedup

    stats: dict[str, int] = {"batch_raw": batch.count()}
    base = (
        batch.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<float>").alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .persist()
    )

    # 1. in-batch exact-vector dedup (12-byte fingerprint, min id wins)
    gfp = F.struct(F.xxhash64("v").alias("h1"), F.hash("v").alias("h2"))
    keyed = base.withColumn("_gfp", gfp)
    winners = keyed.groupBy("_gfp").agg(F.min("vec_id").alias("vec_id")).select("vec_id")
    exact_kept = keyed.join(winners, "vec_id", "left_semi").drop("_gfp")
    # 2. in-batch semantic dedup with the persisted quantizer
    batch_kept = semantic_dedup(
        exact_kept, threshold=threshold, id_col="vec_id", vec_col="v",
        quantizer=quantizer,
    ).persist()
    stats["after_batch_dedup"] = batch_kept.count()

    # 3. cell assignment (map-only, fixed centroids) + precomputed norm
    from readwise_vector_db_spark.operators.similarity import assign_cells

    assigned = assign_cells(batch_kept, quantizer, vec_col="v").select(
        "vec_id", "v", l2_norm(F.col("v").cast("array<double>")).alias("n"), "cluster"
    )

    if table.exists():
        store = table.read(spark)
        b = F.broadcast(
            assigned.select(
                F.col("vec_id").alias("bid"),
                F.col("v").alias("bv"),
                F.col("n").alias("bn"),
                "cluster",
            )
        )
        cos = F.round(
            cosine_similarity(
                F.col("v"), F.col("bv"), a_norm=F.col("n"), b_norm=F.col("bn")
            ),
            6,
        )
        dup_ids = (
            store.join(b, "cluster")
            .filter(cos >= threshold)
            .select(F.col("bid").alias("vec_id"))
            .distinct()
        )
        survivors = assigned.join(dup_ids, "vec_id", "left_anti")
    else:
        survivors = assigned
    survivors = survivors.persist()
    stats["accepted"] = survivors.count()
    if stats["accepted"] > 0 or not table.exists():
        table.commit_append(survivors)
    stats["store_version"] = table.latest_version() or 0
    survivors.unpersist()
    batch_kept.unpersist()
    base.unpersist()
    return stats


def run_incremental_semantic_dedup(
    spark: SparkSession,
    stream_vecs: DataFrame,
    store_root: str,
    quantizer: list[tuple[int, list[float]]],
    threshold: float = 0.999,
    compact_every: int = 64,
    **kwargs,
):
    """Streaming face of the semantic path — the embedding twin of
    :func:`run_incremental_dedup`: each micro-batch runs
    :func:`semantic_dedup_batch_against_store` against the store as of
    its start (quantizer fixed — cell assignments stay stable across
    the stream's lifetime, which is what makes the store a valid
    index).  Same compaction cadence as the shingle path; the semantic
    store needs no separate band index — the committed (id, v, n,
    cluster) rows ARE the index, so compaction alone bounds read
    fan-in."""
    table = VersionedTable(store_root)

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        semantic_dedup_batch_against_store(
            spark, batch_df, table, quantizer, threshold=threshold, **kwargs
        )
        v = table.latest_version() or 0
        if compact_every and v % compact_every == 0 and v > 0:
            table.compact(spark, target_files=spark.sparkContext.defaultParallelism)

    return (
        stream_vecs.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{store_root}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def span_dedup_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    table: VersionedTable,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    read_version: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Span-level incremental dedup — the third member of the
    incremental matrix (exact+MinHash text / SemDeDup embeddings /
    repeated SPANS): cut every batch occurrence of an n-token window
    already accepted into the store, and all-but-first of windows
    repeated within the batch, then append the CLEANED documents'
    window fingerprints so future batches compare against surviving
    content.  Returns ``(cleaned_docs, stats)`` — cleaned_docs is
    (id, clean_text, n_tokens_removed), materialized before return
    (the commit consumes the same frames).

    Store schema: (h1 BIGINT, h2 INT) — the 96-bit composite window
    fingerprint (xxhash64 + murmur3, the exact-vector-dedup precedent).
    Unlike the batch operator (:func:`...dedup.repeated_ngram_spans`),
    the incremental path matches on fingerprints, not verified strings
    — the store never holds window text; at ~10¹² corpus windows the
    96-bit birthday bound keeps expected collisions ≪ 1, and a
    collision costs one wrongly-cut 8-token span, never a correctness
    cascade.

    Scale shape (the store must never shuffle):

    - store probe: the batch's DISTINCT fingerprints broadcast; the
      store scans IN PLACE through a BroadcastHashJoin and emits only
      hit fingerprints (≤ increment-bounded);
    - in-batch repeats rank by (id, pos) over the repeated subset;
    - the token-mask rebuild co-joins ONLY cut documents with their
      token arrays;
    - the append ships the cleaned batch's new fingerprints — one
      O(increment) commit via the VersionedTable CAS.

    ``read_version`` pins the store snapshot the cut evaluates against
    (round 9 — what makes a streaming RETRY idempotent: a re-run batch
    whose first attempt already committed its fingerprints must not
    find its OWN windows in the store and cut its kept-first
    occurrences; ``0`` means "no store yet").  A retried commit can at
    worst append duplicate (h1, h2) rows — harmless for the cut rule,
    which only semi-joins the store.
    """
    from readwise_vector_db_spark.functions.text import ws_tokens
    from readwise_vector_db_spark.operators.dedup import begin_detector_call

    # generation bump (round 10 — was a drop-everything entry drain): a
    # long-running per-batch loop stays bounded at the two newest
    # batches' frames, and a caller who planned batch N's cleaned frame
    # but hasn't consumed it yet keeps its cache across batch N+1's
    # planning instead of silently recomputing the whole cut
    begin_detector_call()
    if read_version is None:
        read_version = table.latest_version() or 0
    store_exists = read_version > 0

    def fps(frame: DataFrame, txt: str) -> DataFrame:
        return _window_fps(frame, txt, n, id_col)

    stats: dict[str, int] = {"batch_raw": batch.count()}
    wins = fps(batch, text_col).persist()

    cut_parts = []
    if store_exists:
        # cut against the PINNED snapshot — retry-stable (see docstring)
        store = table.read(spark, version=read_version)
        batch_fps = wins.select("h1", "h2").distinct()
        # store scans in place: broadcast the increment's fingerprints,
        # emit only the hashes the store already holds
        store_hits = (
            store.join(F.broadcast(batch_fps), ["h1", "h2"], "left_semi")
            .select("h1", "h2")
            .distinct()
        )
        # every batch occurrence of a stored window is cut (the store's
        # copy IS the kept first occurrence)
        cut_parts.append(
            wins.join(F.broadcast(store_hits), ["h1", "h2"]).select("id", "pos")
        )

    # in-batch repeats: all-but-first (batch-global min (id, pos)) cut.
    # Skew-immune formulation: min(struct(id, pos)) per window — partial
    # aggregation absorbs a batch-scale hot window map-side — then an
    # anti-join on the COMPOSITE (h1, h2, id, pos) key, whose hash
    # spreads the hot window's occurrences across tasks (the earlier
    # row_number window partitioned by (h1, h2) serialized them).
    batch_hot = (
        wins.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h1", "h2")
    )
    hot_occ = wins.join(batch_hot, ["h1", "h2"], "left_semi")
    firsts = (
        hot_occ.groupBy("h1", "h2")
        .agg(F.min(F.struct(F.col("id"), F.col("pos"))).alias("_f"))
        .select(
            "h1", "h2", F.col("_f.id").alias("id"), F.col("_f.pos").alias("pos")
        )
    )
    cut_parts.append(
        hot_occ.join(firsts, ["h1", "h2", "id", "pos"], "left_anti")
        .select("id", "pos")
    )

    cut = cut_parts[0]
    for p in cut_parts[1:]:
        cut = cut.unionByName(p)
    cov = (
        cut.select("id", F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("i"))
        .groupBy("id")
        .agg(F.collect_set("i").alias("_cov"))
    )
    base = batch.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), ws_tokens(F.col(text_col)).alias("toks")
    )
    joined = base.join(cov, "id", "left").withColumn(
        "_cov", F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    )
    kept_idx = F.array_sort(
        F.array_except(F.sequence(F.lit(0), F.size("toks") - F.lit(1)), F.col("_cov"))
    )
    cleaned = joined.select(
        F.col("id").alias(id_col),
        F.concat_ws(
            " ", F.transform(kept_idx, lambda i: F.element_at("toks", i + F.lit(1)))
        ).alias("clean_text"),
        F.size("_cov").cast("int").alias("n_tokens_removed"),
    ).persist()
    stats["docs"] = cleaned.count()
    stats["tokens_removed"] = int(
        cleaned.agg(F.sum("n_tokens_removed")).first()[0] or 0
    )

    # append the CLEANED batch's fingerprints (future batches compare
    # against surviving content); only hashes the store lacks ship.
    # This presence check deliberately reads the LATEST snapshot (not
    # the pinned one): it only reduces what ships, and on a retry whose
    # first attempt already committed, the store now holds this batch's
    # hashes → to_append is empty → the retry commits nothing at all
    new_fps = fps(cleaned, "clean_text").select("h1", "h2").distinct().persist()
    if table.exists():
        store = table.read(spark)
        present = (
            store.join(F.broadcast(new_fps), ["h1", "h2"], "left_semi")
            .select("h1", "h2")
            .distinct()
        )
        to_append = new_fps.join(F.broadcast(present), ["h1", "h2"], "left_anti")
    else:
        to_append = new_fps
    to_append = to_append.persist()
    stats["fps_appended"] = to_append.count()
    if stats["fps_appended"] > 0 or not table.exists():
        table.commit_append(to_append)
    stats["store_version"] = table.latest_version() or 0
    to_append.unpersist()
    new_fps.unpersist()
    wins.unpersist()
    # cleaned stays persisted for the caller, returned as a
    # self-draining handle (round 10): its first materializing action
    # releases the persist itself; the generation registry (two newest
    # batches kept) is the backstop for callers that transform the
    # handle before materializing or never consume it.
    from readwise_vector_db_spark.operators.dedup import (
        SelfDrainingFrame,
        register_cached,
    )

    register_cached(cleaned)
    return SelfDrainingFrame(cleaned, [cleaned]), stats


def _window_fps(frame: DataFrame, txt: str, n: int, id_col: str) -> DataFrame:
    """(id, pos, h1, h2) window fingerprints of a text column — THE
    span store's fingerprint contract, shared by the cut path
    (:func:`span_dedup_batch_against_store`) and the scoring path
    (:func:`span_dup_fraction_batch_against_store`): a second copy of
    this scheme drifting (different join, hash, or position base)
    would make the scorer's store probe silently match nothing."""
    from readwise_vector_db_spark.functions.text import ws_tokens

    toks = frame.filter(F.col(txt).isNotNull()).select(
        F.col(id_col).alias("id"), ws_tokens(F.col(txt)).alias("toks")
    ).filter(F.size("toks") >= n)
    return toks.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - F.lit(n) + 1),
                lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
            )
        ).alias("pos", "ngram"),
    ).select(
        "id", "pos",
        F.xxhash64("ngram").alias("h1"), F.hash("ngram").alias("h2"),
    )


def span_dup_fraction_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    table: VersionedTable,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    read_version: int | None = None,
) -> DataFrame:
    """The INCREMENTAL face of the per-doc duplicated-n-gram signal
    (round 10): score each batch document's ``dup_fraction`` against
    the accumulated corpus WITHOUT rescanning it — a window counts as
    duplicated iff its fingerprint is already in the span store (seen
    in any prior batch's accepted content) OR it repeats within this
    batch.  Scoring only — the store is never written; compose with
    :func:`span_dedup_batch_against_store` (which owns the cut and the
    fingerprint commit) in the same micro-batch loop.

    Equivalence: for a store whose prior batches were accepted uncut
    (one fingerprint per distinct prior window), the result is exactly
    :func:`operators.dedup.doc_dup_fraction` over (prior corpus ∪
    batch) restricted to the batch docs — tested.  With prior CUTS the
    store keeps each window's surviving first occurrence, so the
    signal remains "share of tokens whose window exists elsewhere in
    the accepted corpus or this batch"; windows destroyed at cut
    boundaries (spanning removed + kept tokens) are no longer anyone's
    content and don't count — the approximation is stated, not hidden.

    Scale shape: the batch's 8-byte window hashes broadcast against the
    store scan (store never shuffles); in-batch repeats are one partial
    aggregation; coverage counts distinct (id, index) ints.
    ``read_version`` pins the snapshot for streaming retries, exactly
    like the cut path."""
    from readwise_vector_db_spark.functions.text import ws_tokens
    from readwise_vector_db_spark.operators.dedup import begin_detector_call

    # r10 ADVICE: this is a PUBLIC detector entry — a scoring-only
    # per-batch loop (no cut call to bump the generation) must still
    # advance the cache generation, or each batch's persisted `wins`
    # accumulates unboundedly — the exact leak the registry prevents.
    begin_detector_call()
    if read_version is None:
        read_version = table.latest_version() or 0

    # persisted: the window explosion feeds four branches below
    # (batch_fps, the store-hit join, batch_hot, the hot semi-join)
    wins = _window_fps(batch, text_col, n, id_col).persist()
    dup_parts = []
    if read_version > 0:
        store = table.read(spark, version=read_version)
        batch_fps = wins.select("h1", "h2").distinct()
        store_hits = (
            store.join(F.broadcast(batch_fps), ["h1", "h2"], "left_semi")
            .select("h1", "h2")
            .distinct()
        )
        dup_parts.append(
            wins.join(F.broadcast(store_hits), ["h1", "h2"]).select("id", "pos")
        )
    batch_hot = (
        wins.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h1", "h2")
    )
    dup_parts.append(
        wins.join(batch_hot, ["h1", "h2"], "left_semi").select("id", "pos")
    )
    dup = dup_parts[0]
    for p in dup_parts[1:]:
        dup = dup.unionByName(p)
    cov = (
        dup.select(
            "id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("i"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("int").alias("dup_tokens"))
    )
    base = batch.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.size(ws_tokens(F.col(text_col))).cast("int").alias("n_tokens"),
    )
    # wins' persist outlives this lazy plan — the generation registry
    # (two newest calls kept) releases it, same as the cut path's frames
    from readwise_vector_db_spark.operators.dedup import register_cached

    register_cached(wins)
    return (
        base.join(cov, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce(F.col("dup_tokens"), F.lit(0))
                    / F.col("n_tokens").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_fraction"),
        )
    )


def batch_quality_signals(
    spark: SparkSession,
    batch: DataFrame,
    table: VersionedTable,
    lm_model: tuple,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    read_version: int | None = None,
    add_k: float | None = None,
) -> DataFrame:
    """The STREAMING face of the fused signal row (round 10): per-batch
    documents scored with the same one-Arrow-pass per-doc half as
    ``operators.signals.doc_quality_signals`` (LM perplexity from a
    persisted artifact — ``lm.load_bigram_lm``'s tuple, whose 4th
    element is the artifact's add_k and is HONORED when present, so a
    model saved with a non-default smoothing scores identically here
    and offline — plus the Gopher repetition fractions), joined with
    the INCREMENTAL dup fraction
    (:func:`span_dup_fraction_batch_against_store` — windows duplicated
    against the accumulated store or within the batch).  This is the
    production shape: one batch arrives, one Arrow pass + one broadcast
    store probe + one id join scores it — no corpus rescan, no
    per-batch LM retraining."""
    from readwise_vector_db_spark.operators.signals import (
        join_signals,
        per_doc_signal_frame,
    )

    uni, bi, vocab = lm_model[0], lm_model[1], lm_model[2]
    if add_k is None:
        add_k = float(lm_model[3]) if len(lm_model) > 3 else 0.5
    per_doc = per_doc_signal_frame(
        batch, uni, bi, vocab, add_k=add_k, id_col=id_col, text_col=text_col
    )
    dup = span_dup_fraction_batch_against_store(
        spark, batch, table, n=n, id_col=id_col, text_col=text_col,
        read_version=read_version,
    ).select(id_col, "dup_tokens", "dup_fraction")
    return join_signals(per_doc, dup, id_col)


_GATE_BAND_KEYS = (
    "max_ppl_ratio", "max_dup_frac_delta",
    "max_rep_bad_delta", "min_ref", "max_ppl_null_delta",
)


def _gate_anchor_path(root: str) -> str:
    import os as _os

    return _os.path.join(root, "_gate_anchor.json")


def _read_gate_anchor(root: str) -> list[dict]:
    import json as _json

    try:
        with open(_gate_anchor_path(root)) as f:
            return list(_json.load(f)["summaries"])
    except (OSError, KeyError, ValueError):
        return []


def _append_gate_anchor(root: str, summary: dict, anchor_n: int) -> None:
    """Record an ACCEPTED batch's summary into the table's frozen
    anchor until ``anchor_n`` are captured — single-writer streams are
    the store's documented regime, so read-modify-write + atomic
    replace suffices; once full the file never changes again."""
    cur = _read_gate_anchor(root)
    if len(cur) >= anchor_n:
        return
    cur.append(summary)
    storage.atomic_write_json(
        _gate_anchor_path(root), {"summaries": cur, "n": int(anchor_n)}
    )


def commit_batch_signals(
    spark: SparkSession,
    batch: DataFrame,
    table: VersionedTable,
    sig_table: VersionedTable,
    lm_model: tuple,
    batch_id: int,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    read_version: int | None = None,
    gate: dict | None = None,
    retention: int | None = None,
    run_id: str | None = None,
) -> dict:
    """Score one batch's fused signal rows, gate them for quality
    drift, and commit them to the VERSIONED signals table (round 11 —
    r10 verdict items 2+3 in one place: the rows get retention/time
    travel/schema evolution instead of bare parquet dirs, and the
    distribution gets a gate instead of flowing unwatched).

    Per batch, O(batch) work: one Arrow pass + one broadcast store
    probe (:func:`batch_quality_signals`), ONE bounded summary row
    (:func:`operators.signals.quality_signal_summary` — exact
    percentiles over the batch only), and a driver-side band check
    against the MEDIAN of prior batches' summaries read from the
    commit metas (tiny json sidecars — no data rescan, no corpus
    scan).  The summary rides the commit's ``meta`` next to the batch
    id, so the reference window is assembled without touching parquet.

    At-least-once re-delivery: the (run_id, batch_id) pair in the
    commit meta makes a retried batch detectable — ``status='skipped'``
    — so signal rows are exactly-once per batch id even though
    foreachBatch is at-least-once.  ``run_id`` scopes the skip to ONE
    stream incarnation (r11 review): batch ids reset to 0 when an
    operator deletes the checkpoint, and metas keyed by batch id alone
    would falsely skip (or worse, falsely QUARANTINE) the new run's
    batches against a previous life's records — the same failure class
    the r10 pin-marker migration fixed for the cut path.  The
    streaming loop derives run_id from a marker UNDER the checkpoint
    dir, so deleting the checkpoint rotates it; ``run_id=None``
    (standalone callers) matches only metas that also recorded none.
    Within a run batch ids are monotonic (Structured Streaming's
    contract), so the walk is newest-first with early stop — O(few)
    meta reads per batch, not O(all versions).

    Slow drift (``gate={'anchor_n': N}`` — round 12): the rolling
    reference median WALKS with any drift slower than the band per
    window-length (the boiling-frog failure the residue list named).
    ``anchor_n`` freezes the first N accepted summaries in
    ``{sig_root}/_gate_anchor.json`` as the table's "original normal"
    and checks every batch against their median too — same band unless
    ``gate['anchor_band']`` overrides it (usually WIDER: legitimate
    corpus evolution now has to be acknowledged by retuning, the
    stated second-knob cost).  The anchor is cross-run on purpose — a
    checkpoint reset rotates batch ids, not what normal means; retrain
    the LM / delete the anchor file when normal legitimately moves.

    Quarantine (``gate={'on_drift': 'quarantine'}``): a tripped
    batch's rows STILL commit (flagged ``quarantined=True`` column +
    meta — the audit trail and the retry-skip both need the commit)
    but are excluded from future reference windows, and the caller is
    told to divert the batch.  ``on_drift='raise'`` (the default)
    re-raises :class:`QualityDriftError` — loud, like the embedding
    drift gate.  Reference summaries are read across runs (a restarted
    stream keeps its learned normal).  ``retention=R`` bounds the
    signals table's CURRENT view to the newest R batches
    (``commit_append(retain_segments=R)``) and vacuums to the same
    horizon after each commit, so metas/snapshots stay O(R) for
    arbitrarily long streams.

    Returns ``{"status": "committed"|"skipped"|"quarantined",
    "version": ..., "summary": ..., "quarantined": ...}``."""
    from readwise_vector_db_spark.operators.signals import (
        QualityDriftError,
        quality_drift_gate,
        quality_signal_summary,
    )

    ref_window = int((gate or {}).get("ref_window", 8))
    refs: list[dict] = []
    skipped_meta: dict | None = None
    own_run_resolved = False
    for _, m in sig_table.iter_commit_metas_desc():
        if not own_run_resolved and m.get("run_id") == run_id:
            if m.get("batch_id") == batch_id:
                skipped_meta = m
                own_run_resolved = True
            elif not m.get("readmitted", False):
                # monotonic ids within a run: the newest NORMAL own-run
                # meta decides; anything older can't hold THIS batch id
                # unless this one does.  Readmission metas (round 12)
                # are the one sanctioned out-of-order case — an old
                # batch's superseding meta sits newest — so they don't
                # resolve the walk for OTHER batch ids (or a crashed
                # later batch's redelivery would double-commit)
                own_run_resolved = True
        if (
            len(refs) < ref_window
            and m.get("summary") is not None
            and not m.get("quarantined", False)
        ):
            refs.append(m["summary"])
        if own_run_resolved and (gate is None or len(refs) >= ref_window):
            break
    if skipped_meta is not None:
        return {
            "status": "skipped",
            "version": None,
            "summary": skipped_meta.get("summary"),
            "quarantined": bool(skipped_meta.get("quarantined", False)),
        }
    refs.reverse()  # oldest-first, matching the ascending-window shape

    sig = batch_quality_signals(
        spark, batch, table, lm_model, n=n, id_col=id_col,
        text_col=text_col, read_version=read_version,
    ).withColumn("batch_id", F.lit(int(batch_id)))
    # persist: the summary aggregate and the commit write are two
    # actions over the same Arrow pass + store probe
    sig = sig.persist()
    try:
        summary = quality_signal_summary(sig).first().asDict()
        quarantined = False
        quarantine_reason = None
        if gate is not None:
            band = {k: gate[k] for k in _GATE_BAND_KEYS if k in gate}
            try:
                quality_drift_gate(summary, refs, **band)
            except QualityDriftError as drift:
                if gate.get("on_drift", "raise") != "quarantine":
                    raise
                quarantined = True
                # the WHY rides the commit meta (round 12): an operator
                # deciding whether to retune-and-readmit needs the
                # breached band, not just the verdict
                quarantine_reason = str(drift)
            # cumulative anchor (round 12 — the boiling-frog guard): the
            # rolling window's median WALKS with a drift slower than the
            # band per window-length; gate["anchor_n"]=N additionally
            # freezes the first N accepted summaries as "original
            # normal" and checks every batch against THEIR median too
            # (band overridable via gate["anchor_band"] — usually wider,
            # the second knob the residue list priced in).  The anchor
            # is deliberately cross-run: a checkpoint reset rotates
            # batch ids, not what normal means.
            anchor_n = int(gate.get("anchor_n", 0))
            if anchor_n and not quarantined:
                anchor = _read_gate_anchor(sig_table.root)
                if len(anchor) >= anchor_n:
                    a_band = dict(band)
                    a_band.update(
                        {
                            k: v
                            for k, v in gate.get("anchor_band", {}).items()
                            if k in _GATE_BAND_KEYS
                        }
                    )
                    # the warm-up guard must not silently disable a
                    # FULL anchor smaller than min_ref (second review):
                    # fullness, not window size, is the anchor's
                    # readiness condition
                    a_band["min_ref"] = min(
                        int(a_band.get("min_ref", 2)), int(anchor_n)
                    )
                    try:
                        quality_drift_gate(summary, anchor, **a_band)
                    except QualityDriftError as drift:
                        if gate.get("on_drift", "raise") != "quarantine":
                            raise
                        quarantined = True
                        quarantine_reason = f"anchor: {drift}"
        v = sig_table.commit_append(
            sig.withColumn("quarantined", F.lit(quarantined))
            # run_id as a ROW column too (round 12): the readmission
            # path flips exactly ONE (run, batch)'s rows — batch ids
            # alone recur across stream incarnations (the r11 class)
            .withColumn("run_id", F.lit(run_id).cast("string")),
            meta={
                "batch_id": int(batch_id),
                "run_id": run_id,
                "summary": summary,
                "quarantined": quarantined,
                **(
                    {"quarantine_reason": quarantine_reason}
                    if quarantine_reason
                    else {}
                ),
            },
            retain_segments=retention,
        )
        if retention is not None:
            sig_table.vacuum(keep=max(1, int(retention)))
        if gate is not None and not quarantined:
            anchor_n = int(gate.get("anchor_n", 0))
            if anchor_n:
                _append_gate_anchor(sig_table.root, summary, anchor_n)
    finally:
        sig.unpersist()
    return {
        "status": "quarantined" if quarantined else "committed",
        "version": v,
        "summary": summary,
        "quarantined": quarantined,
    }


def commit_batch_rows(
    df: DataFrame,
    table: VersionedTable,
    batch_id: int,
    run_id: str | None = None,
    retention: int | None = None,
) -> dict:
    """Idempotently commit one micro-batch's rows to a versioned table
    under at-least-once delivery — the bare exactly-once shape
    :func:`commit_batch_signals` composes with its gate, reusable for
    any per-batch side output (round 11: the QUARANTINE table — a
    diverted batch's documents get the same retention/time-travel/
    audit home the signal rows do, instead of bare parquet).  The
    (run_id, batch_id) pair rides the commit meta; a redelivered batch
    is a skip.  ``retention`` bounds view+metas+snapshots."""
    metas_desc = table.iter_commit_metas_desc()
    for _, m in metas_desc:
        if m.get("run_id") == run_id:
            if m.get("batch_id") == batch_id:
                return {"status": "skipped", "version": None}
            if not m.get("readmitted", False):
                # monotonic ids within a run — newest NORMAL own-run
                # meta decides; readmission metas are out-of-order by
                # design and must not resolve the walk (round 12)
                break
    v = table.commit_append(
        df.withColumn("batch_id", F.lit(int(batch_id)))
        # row-level run scope (round 12): quarantine readmission removes
        # exactly one (run, batch)'s rows from the view — see
        # commit_batch_signals for why batch_id alone is ambiguous
        .withColumn("run_id", F.lit(run_id).cast("string")),
        meta={"batch_id": int(batch_id), "run_id": run_id},
        retain_segments=retention,
    )
    if retention is not None:
        table.vacuum(keep=max(1, int(retention)))
    return {"status": "committed", "version": v}


_DERIVE_RUN = object()  # readmit_quarantined: "derive from the checkpoint"


def readmit_quarantined(
    spark: SparkSession,
    store_root: str,
    out_dir: str,
    batch_id: int,
    gate: dict | None = None,
    run_id=_DERIVE_RUN,
    signals_out_dir: str | None = None,
    n: int = 8,
    retention: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    replay_out_dir: str | None = None,
) -> dict:
    """Re-admit a gate-diverted batch after the band is retuned (round
    12 — r11 verdict item 2; closes the loop the r11 verdict called
    'one step short': quarantined batches had exactly-once versioned
    storage but only a manual replay out of it).

    The batch's STORED summary (from its quarantined commit meta) is
    re-checked against the CURRENT reference window under the caller's
    new ``gate`` band — no re-scoring: the signals were computed against
    the store snapshot the batch originally saw, and recomputing them
    against today's store would let later ingest change what the batch
    "was".  Still drifted → :class:`QualityDriftError` raises and
    nothing is touched.  Passing, the replay runs in CRASH-ORDERED
    steps, each idempotent, with the signal-meta flip as the commit
    point:

    1. **Cut + output + fingerprints** — the quarantined docs replay
       through :func:`span_dedup_batch_against_store` against the
       store as of readmission time (duplicates accepted since the
       quarantine SHOULD cut it now), writing ``{out_dir}/batch=<id>``
       like the normal path.  The store version is PINNED in a marker
       under the quarantine root first: a crashed readmission's re-run
       must not find its own fingerprints in the store and cut its
       kept-first occurrences (the streaming pin rule, r9).
    2. **Signal flip** — one conditional replacement commit on the
       signals table rewrites the batch's rows ``quarantined=False``
       and writes a superseding meta (``readmitted: True``), so future
       reference windows pick the summary up and a redelivered batch
       still skips.  ``expected_base`` makes a race with a live
       stream's commit a loud :class:`VersionConflictError`, never a
       lost update.  The view rewrite is O(current view) — bounded by
       ``retention`` in any long-running stream.
    3. **Quarantine removal** — a replacement commit drops the batch's
       rows from the quarantine view (meta flagged ``readmitted`` so
       idempotency walks skip it).  A crash between 2 and 3 re-runs as
       the ``status='skipped'`` path, which completes the removal.

    Readmission metas are the one sanctioned OUT-OF-ORDER meta in a
    run's sequence; the exactly-once walks in
    :func:`commit_batch_signals` / :func:`commit_batch_rows` skip them
    when resolving other batch ids (see their round-12 comments).

    Redelivery guard: refuses while the stream's checkpoint has no
    ``commits/<batch_id>`` entry — until the batch is checkpoint-
    committed, a crashed stream may redeliver it, and a concurrent
    readmission would interleave with the redelivered divert.

    ``run_id`` defaults to the checkpoint's current incarnation
    (:func:`signals_run_id_for_checkpoint`, read without creating a
    checkpoint that doesn't exist — a standalone store stays
    checkpoint-free); pass an explicit value (or ``None`` for legacy
    metas) to readmit a PREVIOUS incarnation's batch — that path also
    requires ``replay_out_dir=``: output partitions are keyed by batch
    id alone, so replaying an old run's batch into ``out_dir`` would
    silently overwrite the CURRENT incarnation's ``batch=<id>`` output
    (round-12 review).  Tables written before round 12 lack the
    per-row ``run_id`` column; their rows match on ``batch_id`` alone
    (stated legacy scope).  Reference analogue: none — the reference
    has no quality gate; north-star scope like the gate itself."""
    import os as _os

    from readwise_vector_db_spark.operators.signals import quality_drift_gate

    checkpoint_dir = f"{store_root}/_stream_checkpoint"
    ckpt_exists = _os.path.isdir(checkpoint_dir)
    current_run = (
        signals_run_id_for_checkpoint(checkpoint_dir) if ckpt_exists else None
    )
    if run_id is _DERIVE_RUN:
        run_id = current_run
    if (
        ckpt_exists
        and run_id == current_run
        and not _os.path.isfile(f"{checkpoint_dir}/commits/{int(batch_id)}")
    ):
        # scoped to the CURRENT incarnation (round-12 second review): a
        # previous run's batch ids mean nothing to this checkpoint's
        # commits/ sequence — only the current run can still redeliver
        raise ValueError(
            f"readmit_quarantined: batch {batch_id} is not checkpoint-"
            "committed — a crashed stream may still redeliver it; wait "
            "for the stream to commit (or restart and drain it) first"
        )
    if run_id != current_run and replay_out_dir is None:
        raise ValueError(
            f"readmit_quarantined: batch {batch_id} belongs to a "
            f"PREVIOUS stream incarnation (run {run_id!r}; current "
            f"{current_run!r}) and output partitions are keyed by batch "
            f"id alone — replaying into {out_dir!r} would overwrite the "
            "current run's batch output; pass replay_out_dir= for the "
            "replayed cleaned docs"
        )
    out_target = out_dir if run_id == current_run else replay_out_dir
    sig_root = signals_out_dir or f"{out_dir}_signals"
    sig_table = VersionedTable(sig_root)
    target = None
    for _, m in sig_table.iter_commit_metas_desc():
        if m.get("run_id") == run_id and m.get("batch_id") == batch_id:
            target = m
            break
    if target is None:
        raise ValueError(
            f"readmit_quarantined: no signal commit meta for batch "
            f"{batch_id} (run {run_id!r}) in {sig_root!r}"
        )
    qt = VersionedTable(f"{out_dir}_quarantine")
    run_lit = F.lit(run_id).cast("string")

    def row_match(df: DataFrame):
        cond = F.col("batch_id") == int(batch_id)
        if "run_id" in df.columns:
            cond = cond & F.col("run_id").eqNullSafe(run_lit)
        return cond

    def remove_from_quarantine() -> int:
        if not qt.exists():
            return 0
        cur_v = qt.latest_version()
        cur = qt.read(spark)
        victims = cur.filter(row_match(cur)).count()
        if victims:
            qt.commit(
                cur.filter(~row_match(cur)),
                expected_base=cur_v,
                meta={
                    "readmitted": True,
                    "readmitted_batch_id": int(batch_id),
                    "readmitted_run_id": run_id,
                },
            )
            if retention is not None:
                qt.vacuum(keep=max(1, int(retention)))
        return int(victims)

    pin = f"{qt.root}/_readmit_base_{run_id or 'legacy'}_{int(batch_id)}"
    if not target.get("quarantined", False):
        # already admitted (or never quarantined): complete any
        # interrupted step-3 removal and GC the pin a crashed full run
        # left behind (round-12 review), touch nothing else
        removed = remove_from_quarantine()
        try:
            _os.remove(pin)
        except FileNotFoundError:
            pass
        return {
            "status": "skipped",
            "rows_readmitted": 0,
            "quarantine_rows_removed": removed,
        }

    # --- gate re-check under the NEW band ---------------------------------
    ref_window = int((gate or {}).get("ref_window", 8))
    refs: list[dict] = []
    for _, m in sig_table.iter_commit_metas_desc():
        if m.get("summary") is not None and not m.get("quarantined", False):
            refs.append(m["summary"])
            if len(refs) >= ref_window:
                break
    refs.reverse()
    band = {k: gate[k] for k in _GATE_BAND_KEYS if gate and k in gate}
    quality_drift_gate(target["summary"], refs, **band)  # raises if drifted

    # --- step 1: replay the cut (pinned store snapshot) -------------------
    if not qt.exists():
        raise ValueError(
            f"readmit_quarantined: quarantine table {qt.root!r} does not "
            f"exist — batch {batch_id}'s rows were never diverted there"
        )
    qcur = qt.read(spark)
    docs = qcur.filter(row_match(qcur)).drop("batch_id", "run_id")
    if docs.limit(1).count() == 0:
        # checked BEFORE the cut: replaying an empty frame would
        # overwrite {out_dir}/batch=<id> with nothing
        raise ValueError(
            f"readmit_quarantined: batch {batch_id} has no rows in the "
            "quarantine view (vacuumed past retention?) — nothing to replay"
        )
    table = VersionedTable(store_root)
    if _os.path.isfile(pin):
        with open(pin) as f:
            base_v = int(f.read().strip())
    else:
        base_v = table.latest_version() or 0
        storage.atomic_write_text(pin, str(base_v))
    cleaned, stats = span_dedup_batch_against_store(
        spark, docs, table, n=n, id_col=id_col, text_col=text_col,
        read_version=base_v,
    )
    cleaned.write.mode("overwrite").parquet(f"{out_target}/batch={batch_id}")

    # --- step 2: the commit point — flip the signal rows + meta -----------
    sig_v = sig_table.latest_version()
    sig_cur = sig_table.read(spark)
    flipped = sig_cur.withColumn(
        "quarantined",
        F.when(row_match(sig_cur), F.lit(False)).otherwise(
            F.col("quarantined")
        ),
    )
    new_v = sig_table.commit(
        flipped,
        expected_base=sig_v,
        meta={
            "batch_id": int(batch_id),
            "run_id": run_id,
            "summary": target["summary"],
            "quarantined": False,
            "readmitted": True,
        },
    )
    if retention is not None:
        sig_table.vacuum(keep=max(1, int(retention)))

    # --- step 3: drop the batch from the quarantine view ------------------
    removed = remove_from_quarantine()
    try:
        _os.remove(pin)
    except FileNotFoundError:
        pass
    return {
        "status": "readmitted",
        "rows_readmitted": int(stats["docs"]),
        "tokens_removed_on_replay": int(stats["tokens_removed"]),
        "quarantine_rows_removed": removed,
        "signals_version": int(new_v),
    }


def signals_run_id_for_checkpoint(checkpoint_dir: str) -> str | None:
    """The stream-incarnation id for signal-commit metas, derived from
    (and persisted under) the CHECKPOINT dir so deleting the checkpoint
    rotates it with the batch ids — the r11 exactly-once scope.

    Legacy-upgrade adoption (r11 second review): a checkpoint that has
    already PROCESSED batches under pre-run-id code has metas with no
    run_id — minting a uuid for it would break the retry-skip exactly
    once across the upgrade (a redelivered batch's old meta wouldn't
    match) and double-commit its signal rows.  A checkpoint whose
    ``offsets`` dir is non-empty therefore adopts the legacy identity
    (``None``, stored as an empty marker); only a genuinely FRESH
    checkpoint mints a uuid.  Idempotent: the persisted marker wins on
    every later call."""
    import os as _os
    import uuid as _uuid

    _os.makedirs(checkpoint_dir, exist_ok=True)
    run_marker = f"{checkpoint_dir}/_signals_run_id"
    if not _os.path.isfile(run_marker):
        offsets = f"{checkpoint_dir}/offsets"
        legacy = _os.path.isdir(offsets) and bool(_os.listdir(offsets))
        storage.atomic_write_text(run_marker, "" if legacy else _uuid.uuid4().hex)
    with open(run_marker) as f:
        return f.read().strip() or None


def run_incremental_span_dedup(
    spark: SparkSession,
    stream_docs: DataFrame,
    store_root: str,
    out_dir: str,
    n: int = 8,
    compact_every: int = 64,
    signals_lm: tuple | None = None,
    signals_out_dir: str | None = None,
    signals_gate: dict | None = None,
    signals_retention: int | None = None,
    **kwargs,
):
    """Streaming face of span-level dedup — the third member of the
    incremental matrix gets the same ``foreachBatch`` wiring as the
    shingle (:func:`run_incremental_dedup`) and semantic
    (:func:`run_incremental_semantic_dedup`) paths: each micro-batch
    runs :func:`span_dedup_batch_against_store` against the fingerprint
    store as of its start, appends the CLEANED texts to ``out_dir``
    (the product of this pipeline is the cut text, not just the store),
    and commits the surviving window fingerprints.  Deterministic
    within a batch, order-dependent across batches exactly like a
    sequential daily-increment run — the store's copy of a window is
    always the kept first occurrence.

    Same compaction cadence as the other members; the fingerprint store
    is its own index (h1, h2 rows), so compaction alone bounds read
    fan-in.  The cleaned frame is consumed (written) inside the batch,
    satisfying the drain-registry contract before the next batch runs.

    Retry idempotence (round 9 — foreachBatch is at-least-once): each
    batch PINS the store snapshot it cuts against in a tiny
    ``_batch_base_<id>`` marker before any work, writes its cleaned
    output to an overwrite-mode per-batch partition
    (``{out_dir}/batch=<id>`` — re-runs replace, never duplicate; the
    partition column doubles as ingest lineage), and the fingerprint
    commit ships only store-missing hashes — so a re-run of a batch
    whose first attempt committed cuts identically (pinned snapshot),
    rewrites the same output, and appends nothing.

    The pin markers live UNDER the stream's checkpoint dir and are
    garbage-collected once a later batch proves them committed: a
    marker in ``store_root`` keyed only by batch id would outlive a
    deleted/fresh checkpoint, and the restarted stream (batch ids reset
    to 0) would reuse the stale pin — cutting against an ancient
    snapshot so duplicates of everything committed since silently
    survive.  Deleting the checkpoint now deletes the pins with it.  A
    batch's own marker is NOT removed when ``process`` returns (the
    checkpoint commit happens after; an at-least-once re-run still
    needs the pin) — it is removed when a LATER batch runs, which
    proves the earlier batch's checkpoint commit completed."""
    import glob as _glob
    import os as _os

    table = VersionedTable(store_root)
    checkpoint_dir = f"{store_root}/_stream_checkpoint"
    marker_dir = f"{checkpoint_dir}/_batch_base"
    # stream-incarnation id for the signals' exactly-once metas (r11
    # review): lives UNDER the checkpoint dir for the same reason the
    # pin markers do — deleting the checkpoint resets batch ids to 0,
    # and signal metas keyed by batch id alone would falsely skip (or
    # falsely quarantine) the new run's batches against the old run's
    # records.  Deleting the checkpoint rotates the run id with it.
    signals_run_id = signals_run_id_for_checkpoint(checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _os.makedirs(marker_dir, exist_ok=True)
        # batches are sequential: any marker with id < batch_id belongs
        # to a batch the checkpoint has committed — drop it
        for old in _glob.glob(f"{marker_dir}/*"):
            name = _os.path.basename(old).split(".")[0]
            if name.isdigit() and int(name) < batch_id:
                _os.remove(old)
        marker = f"{marker_dir}/{batch_id}"
        # legacy location (pre-r10: {store_root}/_batch_base_<id>) — a
        # stream upgraded mid-flight must keep its in-flight batch's
        # pin or an at-least-once re-run would cut against a snapshot
        # containing its OWN fingerprints; migrate, then GC all legacy
        # markers (they belonged to this checkpoint's batch sequence)
        legacy = f"{store_root}/_batch_base_{batch_id}"
        if not _os.path.isfile(marker) and _os.path.isfile(legacy):
            _os.replace(legacy, marker)
        for old_legacy in _glob.glob(f"{store_root}/_batch_base_*"):
            _os.remove(old_legacy)
        if _os.path.isfile(marker):
            with open(marker) as f:
                base_v = int(f.read().strip())
        else:
            base_v = table.latest_version() or 0
            storage.atomic_write_text(marker, str(base_v))
        # optional per-batch signal row (round 10; round 11 moved it to
        # the VERSIONED signals table + drift gate): scored against the
        # SAME pinned snapshot as the cut, BEFORE this batch's
        # fingerprints commit — so signals and cut agree on what counts
        # as "already seen", and a retried batch re-scores identically
        # (the batch id in the commit meta makes the retry a skip).
        # r10 ADVICE: the cut path forwards **kwargs (which may carry
        # custom id_col/text_col); the signal row must score the SAME
        # columns or a non-default stream fails/mis-scores here while
        # the cut works.
        if signals_lm is not None:
            sig_root = signals_out_dir or f"{out_dir}_signals"
            sig_res = commit_batch_signals(
                spark, batch_df, table, VersionedTable(sig_root),
                signals_lm, batch_id, n=n,
                id_col=kwargs.get("id_col", "doc_id"),
                text_col=kwargs.get("text_col", "text"),
                read_version=base_v,
                gate=signals_gate, retention=signals_retention,
                run_id=signals_run_id,
            )
            if sig_res["quarantined"]:
                # divert the whole batch: its docs reach neither the
                # cleaned output nor the fingerprint store — they land
                # in the VERSIONED quarantine table for the operator to
                # inspect (round 11: same retention/time-travel/
                # exactly-once home as the signal rows; a retried
                # quarantined batch is a meta-skip, never a duplicate)
                commit_batch_rows(
                    batch_df, VersionedTable(f"{out_dir}_quarantine"),
                    batch_id, run_id=signals_run_id,
                    retention=signals_retention,
                )
                return
        cleaned, _stats = span_dedup_batch_against_store(
            spark, batch_df, table, n=n, read_version=base_v, **kwargs
        )
        cleaned.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        v = table.latest_version() or 0
        if compact_every and v % compact_every == 0 and v > 0:
            table.compact(spark, target_files=spark.sparkContext.defaultParallelism)

    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
