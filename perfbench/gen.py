"""Seeded input generation for the benchmark.

Everything a run feeds the engine comes from here and depends only on
the seed: the clustered vector corpus with its `type` tags, the
synthetic documents with planted near-duplicates, the batch query set,
and the per-workload op schedules. The engine never sees the seed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

DIM = 64
N_CLUSTERS = 32
N_TYPES = 4
TOP_K = 10
# per-dimension noise around unit-norm centres: neighbouring clusters
# overlap, so an IVF probe or an HNSW beam can miss true neighbours
SPREAD = 0.15


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one run; every workload uses the same ones."""

    n_vectors: int = 2_000
    n_docs: int = 600
    dup_frac: float = 0.2
    n_batch_queries: int = 24
    trickle_writes: int = 12
    put_batch_rows: int = 200
    hnsw_shards: int = 4
    doc_tokens: tuple[int, int] = (30, 60)
    vocab: int = 5_000


def key_name(i: int) -> str:
    return f"k{i:07d}"


def type_name(t: int) -> str:
    return f"t{t}"


@dataclass
class Corpus:
    keys: list[str]
    vectors: np.ndarray  # (n, DIM) float64
    types: list[str]
    centers: np.ndarray  # (N_CLUSTERS, DIM)


def make_corpus(rng: np.random.Generator, n: int) -> Corpus:
    """`n` vectors in N_CLUSTERS Gaussian clusters around unit-norm
    centres; the `type` tag is drawn independently of the cluster, so a
    type filter keeps about a quarter of every cluster."""
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, N_CLUSTERS, n)
    vectors = centers[label] + rng.normal(scale=SPREAD, size=(n, DIM))
    types = [type_name(t) for t in rng.integers(0, N_TYPES, n)]
    return Corpus([key_name(i) for i in range(n)], vectors, types, centers)


def near_vector(rng: np.random.Generator, corpus: Corpus) -> np.ndarray:
    """A query or fresh record: a random cluster centre plus noise at the
    clusters' own spread."""
    c = corpus.centers[rng.integers(0, N_CLUSTERS)]
    return c + rng.normal(scale=SPREAD, size=DIM)


@dataclass
class Documents:
    ids: list[int]
    texts: list[str]
    planted: list[tuple[int, int]] = field(default_factory=list)  # (a, b), a < b


def make_documents(rng: np.random.Generator, sizes: Sizes) -> Documents:
    """`n_docs` documents of random vocabulary tokens; a `dup_frac` share
    of them are one-token edits (substitute, insert or delete) of another
    original. Ids are a seeded permutation, so planted pairs are not
    neighbours in id order."""
    n = sizes.n_docs
    n_dup = int(n * sizes.dup_frac)
    n_orig = n - n_dup
    lo, hi = sizes.doc_tokens
    tokens: list[list[str]] = [
        [f"w{t}" for t in rng.integers(0, sizes.vocab, rng.integers(lo, hi + 1))]
        for _ in range(n_orig)
    ]
    sources = rng.integers(0, n_orig, n_dup)
    for src in sources:
        toks = list(tokens[src])
        pos = int(rng.integers(0, len(toks)))
        edit = int(rng.integers(0, 3))
        word = f"w{int(rng.integers(0, sizes.vocab))}"
        if edit == 0:
            toks[pos] = word
        elif edit == 1:
            toks.insert(pos, word)
        else:
            del toks[pos]
        tokens.append(toks)
    ids = [int(i) for i in rng.permutation(n)]
    planted = sorted(
        (min(ids[int(s)], ids[n_orig + j]), max(ids[int(s)], ids[n_orig + j]))
        for j, s in enumerate(sources)
    )
    return Documents(ids, [" ".join(t) for t in tokens], planted)


# One round of each workload's loop. The order is fixed and interleaved,
# so an op lands at the same point of the changelog's growth in every
# run; the seed draws each op's parameters.
ROUNDS = {
    # 20% exact search (half filtered by type), 20% IVF, 20% HNSW,
    # 30% get, 10% text requests through the serve facade
    "serve_read": ("exact", "ivf", "get", "hnsw", "serve", "exact_f", "ivf", "get", "hnsw", "get"),
    # 35% single writes (puts overwrite or add a key; deletes), 17%
    # read-your-writes gets (one right after a put, two right after a
    # delete, one of an earlier write), 17% exact search (half filtered),
    # 26% IVF/HNSW search, and one put_batch with index maintenance, so
    # the later IVF/HNSW searches also cover appended index data
    "ingest_churn": (
        "put_ow", "get", "exact", "ivf", "put_new", "hnsw", "delete", "get", "exact_f", "put_new",
        "put_batch",
        "put_ow", "ivf", "get", "hnsw", "exact", "put_new", "ivf", "delete", "get", "exact_f", "hnsw",
        "put_ow",
    ),
}
# A round's duration on a 4-core VM while its host is busy; on a calm
# host it is about half. The loop runs round(seconds / ROUND_SECONDS)
# whole rounds, so every run of a workload measures the same ops.
ROUND_SECONDS = {"serve_read": 8.5, "ingest_churn": 19.0}


def op_schedule(workload: str, seconds: float) -> list[str]:
    rounds = max(1, round(seconds / ROUND_SECONDS[workload]))
    return list(ROUNDS[workload]) * rounds


def trickle_kinds(rng: np.random.Generator, n: int) -> list[str]:
    """The single-record writes between the bulk load and compaction:
    two thirds puts (half overwrite a key, half add one), one third
    deletes."""
    kinds = (["put_ow", "put_new"] * n)[: n - n // 3] + ["delete"] * (n // 3)
    return [kinds[int(i)] for i in rng.permutation(len(kinds))]


_WORDS = ("vector", "search", "image", "cluster", "index", "query", "spark",
          "store", "nearest", "neighbour", "embedding", "shard")


def query_text(rng: np.random.Generator) -> str:
    return " ".join(_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), 4))
