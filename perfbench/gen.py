"""Seeded input generator for the benchmark workloads.

Everything the engine receives is made here from ``--seed`` with numpy
alone, so the same seed gives byte-identical inputs (``digest`` hashes
them for the determinism test). Each input kind draws from its own
child stream of one ``SeedSequence``, so changing the size of one input
leaves the others unchanged.

Vectors are float32 in [-1, 1]^DIM drawn from a Gaussian mixture:
real embeddings are clustered, and uniform data would defeat the grid
index's cell pruning. The mixture itself is part of the workload's
definition and the same for every seed; the seed draws the points, so
seeds differ in their samples, not in how clustered the data is.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

DIM = 64
COMPONENTS = 64
MIXTURE_SEED = 20240601
# documents: ~TOKENS words from a VOCAB-word vocabulary; shares of exact
# copies and of one-token-edit copies
TOKENS = 60
VOCAB = 20_000
EXACT_RATE = 0.05
NEAR_RATE = 0.05

# child-stream indices of SeedSequence(seed).spawn(...)
_S_BASE, _S_PROBES, _S_OPS, _S_DOCS = range(4)


def _streams(seed: int) -> list[np.random.Generator]:
    return [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(4)]


@dataclass(frozen=True)
class Mixture:
    means: np.ndarray  # (components, dim)
    scales: np.ndarray  # (components,)
    weights: np.ndarray  # (components,)

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        comp = rng.choice(len(self.weights), size=n, p=self.weights)
        noise = rng.standard_normal((n, self.means.shape[1]))
        x = self.means[comp] + noise * self.scales[comp][:, None]
        return np.clip(x, -1.0, 1.0).astype(np.float32)


def mixture() -> Mixture:
    rng = np.random.default_rng(MIXTURE_SEED)
    means = rng.uniform(-0.6, 0.6, size=(COMPONENTS, DIM))
    scales = rng.uniform(0.08, 0.2, size=COMPONENTS)
    weights = rng.dirichlet(np.full(COMPONENTS, 2.0))
    return Mixture(means, scales, weights)


def base_vectors(seed: int, n: int) -> np.ndarray:
    return mixture().sample(_streams(seed)[_S_BASE], n)


def probe_vectors(seed: int, n: int) -> np.ndarray:
    return mixture().sample(_streams(seed)[_S_PROBES], n)


# --- facade operation schedule ---------------------------------------------

# write mix insert : update_position : delete : update_metadata = 4 : 3 : 2 : 1
WRITE_KINDS = ("insert",) * 4 + ("update_position",) * 3 + ("delete",) * 2 + (
    "update_metadata",
)
LABELS = 10
FILTER_EVERY = 10  # one read in ten carries the label filter


@dataclass(frozen=True)
class FacadeOp:
    """One closed-loop call. ``kind`` is ``read`` or a write kind.

    Reads carry ``vec`` and ``label`` (None = unfiltered). Writes carry
    ``pick`` in [0, 1), which the runner maps onto the live ids at run
    time (the live id set depends on earlier writes), ``vec`` for
    inserts and position updates, and ``label`` for inserts and
    metadata updates.
    """

    kind: str
    vec: np.ndarray | None
    label: int | None
    pick: float


def facade_ops(seed: int, n: int, mixed: bool) -> list[FacadeOp]:
    """``n`` reads. Without ``mixed``, one read in ``FILTER_EVERY`` carries
    a label filter; with it, every read is unfiltered and follows one
    write."""
    rng = _streams(seed)[_S_OPS]
    mix = mixture()
    read_vecs = mix.sample(rng, n)
    write_vecs = mix.sample(rng, n)
    labels = rng.integers(0, LABELS, size=n)
    kinds = rng.integers(0, len(WRITE_KINDS), size=n)
    picks = rng.random(n)
    ops: list[FacadeOp] = []
    for i in range(n):
        if mixed:
            kind = WRITE_KINDS[kinds[i]]
            ops.append(
                FacadeOp(kind, write_vecs[i], int(labels[(i + 1) % n]), float(picks[i]))
            )
        filtered = not mixed and i % FILTER_EVERY == FILTER_EVERY - 1
        ops.append(
            FacadeOp("read", read_vecs[i], int(labels[i]) if filtered else None, 0.0)
        )
    return ops


# --- documents with planted duplicates --------------------------------------


@dataclass(frozen=True)
class Corpus:
    ids: np.ndarray  # int64 doc ids
    texts: list[str]
    exact_pairs: list[tuple[int, int]]  # (source id, copy id)
    near_pairs: list[tuple[int, int]]  # (source id, one-token-edit id)


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents of ``TOKENS`` +- 5 random words. A share
    ``EXACT_RATE`` of them are verbatim copies of another document and a
    share ``NEAR_RATE`` differ from another document in one token. Each
    source document has at most one planted copy, so the planted pairs
    are disjoint and unambiguous."""
    rng = _streams(seed)[_S_DOCS]
    n_exact = int(n_docs * EXACT_RATE)
    n_near = int(n_docs * NEAR_RATE)
    n_src = n_docs - n_exact - n_near
    words = [f"w{i}" for i in range(VOCAB)]
    lens = rng.integers(TOKENS - 5, TOKENS + 6, size=n_src)
    docs = [rng.integers(0, VOCAB, size=int(length)) for length in lens]
    sources = rng.permutation(n_src)[: n_exact + n_near]
    for s in sources[n_exact:]:
        d = docs[int(s)].copy()
        pos = int(rng.integers(0, len(d)))
        # draw from vocab-1 and skip the old word: always a real edit
        new = int(rng.integers(0, VOCAB - 1))
        d[pos] = new if new < d[pos] else new + 1
        docs.append(d)
    for s in sources[:n_exact]:
        docs.append(docs[int(s)])
    # shuffle ids so copies are not all at the end of the id range
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    texts = [" ".join(words[t] for t in d) for d in docs]
    order = np.argsort(ids, kind="stable")
    near = [(int(ids[s]), int(ids[n_src + j])) for j, s in enumerate(sources[n_exact:])]
    exact = [
        (int(ids[s]), int(ids[n_src + n_near + j]))
        for j, s in enumerate(sources[:n_exact])
    ]
    return Corpus(ids[order], [texts[i] for i in order], exact, near)


def digest(*arrays_or_texts) -> str:
    """sha256 over the raw bytes of generated inputs (determinism check)."""
    h = hashlib.sha256()
    for a in arrays_or_texts:
        if isinstance(a, np.ndarray):
            h.update(str(a.dtype).encode())
            h.update(np.ascontiguousarray(a).tobytes())
        else:
            for t in a:
                h.update(t.encode())
                h.update(b"\0")
    return h.hexdigest()
