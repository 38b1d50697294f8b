"""SearchService: validated request → Spark search → shaped result dicts.

The engine side of every protocol surface (reference
``mcp/search_service.py:60-227``).  The reference embeds the query via
OpenAI; here the deterministic local embedder stands in (U1 offline path,
SURVEY §2.5), so results are reproducible without network.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import SparkSession

from readwise_vector_db_spark.api.metrics import MetricsRegistry, default_registry
from readwise_vector_db_spark.api.models import SearchRequest, shape_result
from readwise_vector_db_spark.functions.embedder import DEFAULT_DIM, embed_text_local
from readwise_vector_db_spark.operators import search as search_ops
from readwise_vector_db_spark.sources.tables import corpus_split


class SearchService:
    """One corpus, many queries.  Metadata/vectors are loaded once (index
    open ≈ the reference's connection pool) and every request plans a fresh
    vector-first top-k against them.

    ``warm=True`` (the default) opens the prebuilt bucketed warm layout
    (sources/search_index.py) and serves each request through
    ``served_search_rows`` — the configuration whose tails the bench
    gates.
    ``warm=False`` plans directly over the fixture parquet (no index
    build): the cold path, kept for tests and one-shot CLI queries.
    Both return identical rows (tests/test_api.py pins agreement).

    ``ann_nprobe`` (deployment-time, like the reference deciding to
    serve through its HNSW index) routes warm requests through the
    IVF-probe path: only the nprobe nearest cells are scored, trading
    recall for fold CPU exactly as the reference's approximate index
    does.  None (default) = exact scan."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        warm: bool = True,
        ann_nprobe: int | None = None,
    ):
        if ann_nprobe is not None and ann_nprobe < 1:
            raise ValueError(f"ann_nprobe must be >= 1, got {ann_nprobe}")
        self.spark = spark
        self.sf_dir = sf_dir
        self.warm = warm
        self.ann_nprobe = ann_nprobe
        if warm:
            from readwise_vector_db_spark.sources.search_index import warm_tables

            self.metadata, self.vectors = warm_tables(spark, sf_dir)
        else:
            self.metadata, self.vectors = corpus_split(spark, sf_dir)
        # Query-embedding width follows the CORPUS (one narrow head at
        # open time — index-open cost, like the reference reading its
        # model config), so the same HTTP surface serves the 64-d
        # fixture and the reference's 3072-d width without a deploy
        # flag; the reference hardcodes 3072 (core/embedding.py:9-11).
        first = self.vectors.select("embedding").filter(
            self.vectors["embedding"].isNotNull()
        ).head(1)
        self._embed_dim = len(first[0]["embedding"]) if first else None
        # observability: same metric families the reference exports via
        # prometheus_client (api/routes.py:237-243), rendered in the
        # Prometheus text exposition format at GET /metrics
        self.registry: MetricsRegistry = default_registry()
        self._searches = self.registry.get("searches_total")
        self._results = self.registry.get("results_total")

    def _params(self, req: SearchRequest) -> search_ops.SearchParams:
        return search_ops.SearchParams(
            k=req.clamped_k(),
            source_type=req.source_type,
            source_author=req.author,
            lang=req.lang,
            tags=req.tags,
            highlighted_at_range=req.highlighted_at_range,
        )

    def _rows(self, req: SearchRequest) -> list[dict[str, Any]] | None:
        """Warm: the rows of ``served_search_rows`` (one winner
        selection, one fetch).  Cold: None — the caller runs
        :meth:`_plan`, planned over the fixture parquet."""
        if not self.warm:
            return None
        from readwise_vector_db_spark.sources import search_index

        return search_index.served_search_rows(
            self.spark, self.sf_dir, self._embed(req), self._params(req),
            nprobe=self.ann_nprobe,
        )

    def _embed(self, req: SearchRequest) -> list[float]:
        return embed_text_local(req.q, dim=self._embed_dim or DEFAULT_DIM)

    def _plan(self, req: SearchRequest):
        return search_ops.semantic_search_indexed(
            self.metadata, self.vectors, self._embed(req), self._params(req)
        )

    def search(self, req: SearchRequest) -> list[dict[str, Any]]:
        rows = self._rows(req)
        if rows is None:
            df = self._plan(req)
            rows = [r.asDict(recursive=True) for r in df.collect()]
        results = [shape_result(r) for r in rows]
        self._searches.inc()
        self._results.inc(len(results))
        return results

    def stream(self, req: SearchRequest) -> Iterator[dict[str, Any]]:
        """Per-row iterator (SSE / MCP framing consumes this).  k ≤ 100, so
        toLocalIterator never holds more than one small partition."""
        rows = self._rows(req)
        self._searches.inc()
        if rows is not None:
            for row in rows:
                self._results.inc()
                yield shape_result(row)
            return
        df = self._plan(req)
        for row in df.toLocalIterator():
            self._results.inc()
            yield shape_result(row.asDict(recursive=True))
