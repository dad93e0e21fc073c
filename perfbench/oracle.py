"""Numpy oracles for every output the benchmark checks.

kNN answers are checked tie-aware: the engine may return any of the
ids tied at the k-th distance, so a result is right when its distances
equal the exact ones, it has min(k, n) rows in ascending order, and it
holds every id strictly closer than the k-th distance. Distances are
squared Euclidean in float64 over the float32 inputs; the engine sums in
another order, so values are compared with a relative tolerance.
"""

from __future__ import annotations

import numpy as np

REL_TOL = 1e-9


class CheckFailed(Exception):
    """An engine output disagrees with its oracle."""


def sq_dists(X: np.ndarray, p: np.ndarray) -> np.ndarray:
    d = X.astype(np.float64) - np.asarray(p, dtype=np.float64)
    return np.einsum("ij,ij->i", d, d)


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check_knn(ids: list[int], dists: list[float], dist_by_id: np.ndarray, k: int) -> None:
    """Raise CheckFailed unless (ids, dists) is a correct top-k.

    ``dist_by_id[i]`` is the exact distance of candidate id ``i``, NaN
    for ids that are not candidates (deleted, or filtered out)."""
    cand = np.flatnonzero(~np.isnan(dist_by_id))
    need = min(k, len(cand))
    if len(ids) != need:
        raise CheckFailed(f"{len(ids)} rows, expected {need}")
    if len(set(ids)) != len(ids):
        raise CheckFailed("duplicate ids in result")
    if any(b < a for a, b in zip(dists, dists[1:])):
        raise CheckFailed("distances not ascending")
    if need == 0:
        return
    for i, d in zip(ids, dists):
        if not 0 <= i < len(dist_by_id) or np.isnan(dist_by_id[i]):
            raise CheckFailed(f"id {i} is not a candidate")
        if not close(d, float(dist_by_id[i])):
            raise CheckFailed(f"id {i}: distance {d!r}, exact {float(dist_by_id[i])!r}")
    cd = dist_by_id[cand]
    kth = float(np.partition(cd, need - 1)[need - 1])
    if not close(dists[-1], kth):
        raise CheckFailed(f"k-th distance {dists[-1]!r}, exact {kth!r}")
    strictly = cand[cd < kth * (1 - REL_TOL)]
    missing = set(strictly.tolist()) - set(ids)
    if missing:
        raise CheckFailed(f"missing closer ids {sorted(missing)[:5]}")


def exact_topk(X: np.ndarray, ids: np.ndarray, Q: np.ndarray, k: int) -> np.ndarray:
    """(len(Q), k) ids of the exact nearest rows of X for each probe."""
    Xd = X.astype(np.float64)
    x_sq = np.einsum("ij,ij->i", Xd, Xd)
    out = np.empty((len(Q), k), dtype=np.int64)
    for lo in range(0, len(Q), 256):
        Qd = Q[lo : lo + 256].astype(np.float64)
        D = x_sq[None, :] - 2.0 * Qd @ Xd.T
        # shortlist by the matmul form, rank exactly on the shortlist
        short = np.argpartition(D, k + 16, axis=1)[:, : k + 16]
        for r, cand in enumerate(short):
            exact = sq_dists(Xd[cand], Qd[r])
            out[lo + r] = ids[cand[np.lexsort((ids[cand], exact))[:k]]]
    return out


def recall(found: dict[int, set[int]], truth: np.ndarray) -> float:
    """Mean share of each probe's true top-k found (probe i = row i)."""
    k = truth.shape[1]
    hits = sum(len(found.get(i, set()) & set(row.tolist())) for i, row in enumerate(truth))
    return hits / (k * len(truth))
