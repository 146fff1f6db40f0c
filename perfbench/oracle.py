"""Numpy oracle: the expected answer of every checked operation.

`StoreModel` mirrors what the store must hold after each write, so a
`get`, an exact search or a filtered search can be compared with brute
force over the model. Scores are squared L2, ascending, ties broken by
key — the engine's documented order. Approximate searches (IVF, HNSW)
are checked for validity (live, unique keys; scores that belong to the
key) and scored by recall@k against the same truth.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np

# Scores come back rounded to 6 decimals and summed in another order
# than numpy's; anything closer than this is a tie.
SCORE_TOL = 1e-5


class StoreModel:
    """Live key -> (vector, type), plus every vector a key has held since
    its last index write, which an IVF probe may still return (the
    store's documented staleness window until the next index append or
    rebuild)."""

    def __init__(self) -> None:
        self.live: dict[str, tuple[np.ndarray, str]] = {}
        self.deleted: set[str] = set()
        self.history: dict[str, list[np.ndarray]] = {}
        self._matrix: tuple[list[str], np.ndarray, list[str]] | None = None

    def put(self, key: str, vector: np.ndarray, type_: str) -> None:
        vec = np.asarray(vector, dtype=np.float64)
        self.live[key] = (vec, type_)
        self.deleted.discard(key)
        self.history.setdefault(key, []).append(vec)
        self._matrix = None

    def delete(self, key: str) -> None:
        if self.live.pop(key, None) is not None:
            self.deleted.add(key)
            self._matrix = None

    def get(self, key: str) -> np.ndarray | None:
        hit = self.live.get(key)
        return None if hit is None else hit[0]

    def matrix(self) -> tuple[list[str], np.ndarray, list[str]]:
        """Live keys in key order, their vectors and types."""
        if self._matrix is None:
            keys = sorted(self.live)
            mat = np.stack([self.live[k][0] for k in keys]) if keys else np.zeros((0, 0))
            self._matrix = (keys, mat, [self.live[k][1] for k in keys])
        return self._matrix


def squared_l2(mat: np.ndarray, q: Sequence[float]) -> np.ndarray:
    d = mat - np.asarray(q, dtype=np.float64)
    return np.einsum("ij,ij->i", d, d)


def brute_topk(
    keys: Sequence[str], mat: np.ndarray, q: Sequence[float], k: int
) -> list[tuple[str, float]]:
    """Exact top-k by (squared L2, key)."""
    if len(keys) == 0:
        return []
    d = squared_l2(mat, q)
    order = np.lexsort((np.asarray(keys), d))[:k]
    return [(keys[i], float(d[i])) for i in order]


def model_topk(
    model: StoreModel, q: Sequence[float], k: int, type_: str | None = None
) -> list[tuple[str, float]]:
    keys, mat, types = model.matrix()
    if type_ is not None:
        idx = [i for i, t in enumerate(types) if t == type_]
        keys, mat = [keys[i] for i in idx], mat[idx] if idx else mat[:0]
    return brute_topk(keys, mat, q, k)


def check_exact(
    got: Sequence[tuple[str, float]], expected: Sequence[tuple[str, float]]
) -> str | None:
    """None when `got` (key, score) rows are the exact top-k; otherwise
    the reason. A key may differ from the oracle's only when its score
    ties the k-th distance."""
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    if len({k for k, _ in got}) != len(got):
        return "duplicate keys"
    want = dict(expected)
    for pos, ((gk, gs), (ek, es)) in enumerate(zip(got, expected)):
        if abs(gs - es) > SCORE_TOL:
            return f"rank {pos}: score {gs} for {gk}, expected {es} for {ek}"
        if gk in want and abs(want[gk] - gs) > SCORE_TOL:
            return f"{gk} scored {gs}, its distance is {want[gk]}"
        if gk not in want and abs(gs - expected[-1][1]) > SCORE_TOL:
            return f"{gk} is outside the top-k and not tied with its boundary"
    return None


def check_approx(
    got: Sequence[tuple[str, float]],
    model: StoreModel,
    q: Sequence[float],
    k: int,
    allow_stale: bool,
) -> str | None:
    """Validity of an approximate answer: at most k unique live keys in
    ascending score order, each score equal to the distance of the key's
    live vector (or, with `allow_stale`, of a vector it held before)."""
    if len(got) > k:
        return f"{len(got)} rows > k={k}"
    keys = [g for g, _ in got]
    if len(set(keys)) != len(keys):
        return "duplicate keys"
    scores = [s for _, s in got]
    if any(b < a - SCORE_TOL for a, b in zip(scores, scores[1:])):
        return "scores not ascending"
    for key, score in got:
        if key not in model.live:
            return f"deleted or unknown key {key}"
        versions = model.history[key] if allow_stale else [model.live[key][0]]
        dists = squared_l2(np.stack(versions), q)
        if not np.any(np.abs(dists - score) <= SCORE_TOL * max(1.0, abs(score))):
            return f"score {score} does not belong to {key}"
    return None


def recall(got: Iterable[str], truth: Sequence[tuple[str, float]]) -> float:
    want = {k for k, _ in truth}
    return len(want & set(got)) / len(want) if want else 1.0


def check_get(got: dict | None, expected: np.ndarray | None) -> str | None:
    if expected is None:
        return None if got is None else "deleted key returned a record"
    if got is None:
        return "live key not found"
    if not np.array_equal(np.asarray(got["vector"], dtype=np.float64), expected):
        return "stale or wrong vector"
    return None


def components(ids: Iterable[int], pairs: Iterable[tuple[int, int]]) -> dict[int, int]:
    """id -> min id of its connected component (union-find)."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def check_clusters(
    labels: dict[int, int], ids: Sequence[int], pairs: Iterable[tuple[int, int]]
) -> str | None:
    """dedup_clusters must label every id with the min id of its
    component over the candidate pairs."""
    if sorted(labels) != sorted(ids):
        return "ids missing or duplicated in cluster labels"
    want = components(ids, pairs)
    bad = [i for i in ids if labels[i] != want[i]]
    return f"{len(bad)} ids with a wrong rep_id" if bad else None


def pair_recall(labels: dict[int, int], planted: Sequence[tuple[int, int]]) -> float:
    """Share of planted near-dup pairs that ended up in one cluster."""
    if not planted:
        return 1.0
    return sum(labels[a] == labels[b] for a, b in planted) / len(planted)


def tail(samples: Sequence[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least `beyond` samples above it:
    (value, percentile, sample count). With too few samples it is the
    maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0
    i = max(0, n - beyond - 1)
    return xs[i], 100.0 * (i + 1) / n, n
