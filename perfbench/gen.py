"""Seeded input generators for the three workloads.

Everything the program under test reads is produced here from one seed:
the same seed gives byte-identical files.  The generators import nothing
from ``readwise_vector_db_spark``, so a change to the program can never
change its inputs.
"""

from __future__ import annotations

import string
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Marker tokens of the program's language-ID heuristic.  Generated
# pseudo-words avoid them, so a document's language is decided only by
# the marker words a generator puts in on purpose.
_RESERVED = {
    "the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
    "der", "die", "das", "und", "ist", "nicht",
    "el", "la", "de", "los", "que", "es", "le", "les", "et", "est", "ne",
}
EN_FILLERS = ("the", "a", "and", "of", "to", "in", "is", "it", "that")
DE_FILLERS = ("der", "die", "das", "und", "ist", "nicht")

LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 4-9 letters."""
    letters = np.array(list(string.ascii_lowercase))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(4, 10))))
        if w not in seen and w not in _RESERVED:
            seen.add(w)
            out.append(w)
    return out


def sentence(rng: np.random.Generator, words: list[str], n: int,
             fillers=EN_FILLERS, filler_every: int = 4) -> list[str]:
    """``n`` tokens; every ``filler_every``-th one, the first included, is
    a filler (stop- and marker words), so a document's language and
    stopword share are fixed by construction.  ``filler_every=0``: none."""
    toks = []
    for i in range(n):
        if filler_every and i % filler_every == 0:
            toks.append(fillers[int(rng.integers(len(fillers)))])
        else:
            toks.append(words[int(rng.integers(len(words)))])
    if filler_every:
        toks[0] = fillers[0]
    return toks


def _write_parquet(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def distinct_queries(rng: np.random.Generator, words: list[str], n: int,
                     lo: int = 3, hi: int = 8) -> list[str]:
    """``n`` distinct free-text queries of ``lo``..``hi`` words."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        q = " ".join(sentence(rng, words, int(rng.integers(lo, hi + 1)),
                              filler_every=0))
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


# --- serve ---------------------------------------------------------------


@dataclass
class ServeInput:
    ids: np.ndarray            # (n,) int64 doc ids
    vectors: np.ndarray        # (n, dim) float32, as stored
    source: np.ndarray         # (n,) str
    lang: np.ndarray           # (n,) str
    requests: list[dict] = field(default_factory=list)


def make_serve(seed: int, sf_dir: Path, n_docs: int, dim: int,
               n_requests: int) -> ServeInput:
    """A fixture-shaped corpus (``documents`` + ``embeddings``) and a list
    of distinct search requests, 3 in 4 unfiltered and 1 in 4 filtered on
    ``source_type`` or ``lang``."""
    rng = _rng(seed, 1)
    words = vocab(rng, 3000)
    sf_dir.mkdir(parents=True, exist_ok=True)
    ids = np.arange(n_docs, dtype=np.int64)
    texts = [" ".join(sentence(rng, words, int(rng.integers(8, 60))))
             for _ in range(n_docs)]
    lang = np.array(LANGS)[rng.integers(len(LANGS), size=n_docs)]
    source = np.array([f"src{i % N_SOURCES}" for i in range(n_docs)])
    _write_parquet(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array(source.tolist()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), sf_dir / "documents.parquet")
    # a Gaussian mixture: neighbourhoods exist, so top-k is not arbitrary
    centers = rng.standard_normal((32, dim))
    label = rng.integers(32, size=n_docs).astype(np.int32)
    vecs = (centers[label] + 0.8 * rng.standard_normal((n_docs, dim))).astype(np.float32)
    _write_parquet(pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label),
    }), sf_dir / "embeddings.parquet")
    out = ServeInput(ids, vecs, source, lang)
    for i, q in enumerate(distinct_queries(rng, words, n_requests)):
        req: dict = {"q": q, "k": 10}
        if i % 4 == 3:
            if rng.random() < 0.5:
                req["source_type"] = f"src{int(rng.integers(N_SOURCES))}"
            else:
                req["lang"] = LANGS[int(rng.integers(len(LANGS)))]
        out.requests.append(req)
    return out


# --- curate --------------------------------------------------------------


@dataclass
class CurateInput:
    n_docs: int
    n_junk: int          # fail the quality stage (short, no stopwords)
    n_foreign: int       # pass quality, fail the ``en`` stage
    n_exact: int         # byte copies of a clean English original
    n_near: int          # copies of another original with words substituted
    input_bytes: int


def make_curate(seed: int, sf_dir: Path, n_docs: int,
                doc_words: tuple[int, int]) -> CurateInput:
    """A ``documents`` table with planted duplicate structure: about 10 %
    exact copies and 20 % near copies with one word substituted, each of a
    distinct clean English original of ``doc_words`` words, plus 3 %
    junk and 3 % German documents that the quality and language stages
    drop.  Copy ids are interleaved with the originals."""
    rng = _rng(seed, 3)
    words = vocab(rng, 4000)
    n_exact, n_near = n_docs // 10, n_docs // 5
    n_junk = n_foreign = (3 * n_docs) // 100
    n_orig = n_docs - n_exact - n_near - n_junk - n_foreign
    texts: list[str] = []
    for _ in range(n_orig):
        texts.append(" ".join(sentence(rng, words, int(rng.integers(doc_words[0], doc_words[1] + 1)))))
    srcs = rng.choice(n_orig, size=n_exact + n_near, replace=False)
    for s in srcs[:n_exact]:
        texts.append(texts[int(s)])
    for s in srcs[n_exact:]:
        toks = texts[int(s)].split(" ")
        i = int(rng.integers(len(toks)))
        w = toks[i]
        while w == toks[i]:  # a near copy is never a byte copy
            w = words[int(rng.integers(len(words)))]
        toks[i] = w
        texts.append(" ".join(toks))
    for _ in range(n_junk):
        texts.append(" ".join(sentence(rng, words, 3, filler_every=0)))
    for _ in range(n_foreign):
        texts.append(" ".join(sentence(rng, words, int(rng.integers(doc_words[0], doc_words[1] + 1)),
                                       fillers=DE_FILLERS)))
    order = rng.permutation(len(texts))
    texts = [texts[int(i)] for i in order]
    sf_dir.mkdir(parents=True, exist_ok=True)
    path = sf_dir / "documents.parquet"
    _write_parquet(pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(len(texts))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    return CurateInput(len(texts), n_junk, n_foreign, n_exact, n_near,
                       path.stat().st_size)
