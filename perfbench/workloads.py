"""The benchmark workloads and the call harness they share.

One client drives the engine in a closed loop: the next call is sent
only after the last one returned, as a pipeline step or notebook user
does. Every call goes through ``Harness.op``, which times it, checks
its output against the numpy oracle, counts a wrong answer or an
exception as a failure (printing its message), and releases the
engine's registered caches (``caching.unpersist_caches``) afterwards,
outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle
import spans
from oracle import CheckFailed

K = 10
# the columns of a join result the checks read
JOIN_COLS = ("probe_id", "vec_id", "dist", "rank")


@dataclass
class Call:
    op: str
    seconds: float
    items: int
    ok: bool
    timed: bool  # False for warm-up calls
    traced: bool
    cpu_s: float = 0.0  # process-tree CPU during the call (spans.tree_cpu_s)
    phases: dict[str, float] = field(default_factory=dict)
    released: int = 0
    span: int | None = None
    group: str | None = None


class Harness:
    """Runs, times and checks single engine calls."""

    def __init__(self, spark, rundir: str, seed: int) -> None:
        self.spark = spark
        self.rundir = rundir
        self.seed = seed
        self.calls: list[Call] = []
        self.errors: list[str] = []
        self.tracer = None  # a spans.Tracer while the traced phase runs
        self.timing = False  # False during warm-up
        self.setup_layers: dict[str, list[float]] = {}

    def note(self, layer: str, value: float) -> None:
        self.setup_layers.setdefault(layer, []).append(value)

    def timed_setup(self, layer: str, fn: Callable):
        t0 = time.perf_counter()
        out = fn()
        self.note(layer, time.perf_counter() - t0)
        return out

    def op(
        self,
        op: str,
        call: Callable,
        materialize: Callable | None = None,
        check: Callable | None = None,
        items: int = 1,
    ) -> Call:
        """Time ``call()`` and, when given, ``materialize(result)`` (the
        action a user would run on a returned DataFrame), then run
        ``check`` on the final value outside the timed region. With
        ``materialize``, ``call`` returns the very DataFrame it acts on,
        so a traced run's plan step forces the plan the action runs."""
        from lightweight_vector_database_spark.caching import unpersist_caches

        tr = self.tracer
        rec = Call(op, 0.0, items, True, self.timing, tr is not None)
        value = None
        cpu0 = spans.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if tr is None:
                value = call()
                if materialize is not None:
                    value = materialize(value)
            else:
                value = self._traced(rec, call, materialize)
        except Exception as e:  # the loop must go on; the failure is counted
            rec.ok = False
            self._fail(op, f"{type(e).__name__}: {e}", tb=traceback.format_exc())
        rec.seconds = time.perf_counter() - t0
        rec.cpu_s = spans.tree_cpu_s() - cpu0
        if rec.ok and check is not None:
            try:
                check(value)
            except CheckFailed as e:
                rec.ok = False
                self._fail(op, f"wrong result: {e}")
            except Exception as e:  # a malformed result the oracle cannot read
                rec.ok = False
                self._fail(op, f"unreadable result: {type(e).__name__}: {e}")
        rec.released = unpersist_caches()
        self.calls.append(rec)
        return rec

    def _traced(self, rec: Call, call: Callable, materialize: Callable | None):
        tr = self.tracer
        rec.group = f"pb-{len(self.calls)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(rec.group, rec.op)
        try:
            rec.span = len(tr.spans)
            with tr.span(rec.op, rec.span):
                t = time.perf_counter()
                with tr.span("call", rec.span):
                    value = call()
                rec.phases["call_s"] = time.perf_counter() - t
                if materialize is not None:
                    t = time.perf_counter()
                    with tr.span("plan", rec.span):
                        value._jdf.queryExecution().executedPlan()
                    rec.phases["plan_s"] = time.perf_counter() - t
                    t = time.perf_counter()
                    with tr.span("exec", rec.span):
                        value = materialize(value)
                    rec.phases["exec_s"] = time.perf_counter() - t
            return value
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _fail(self, op: str, msg: str, tb: str | None = None) -> None:
        self.errors.append(f"{op}: {msg}")
        print(f"perfbench: FAILED {op}: {msg}", file=sys.stderr)
        if tb:
            print(tb, file=sys.stderr)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.rundir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def timed_calls(self, op: str) -> list[Call]:
        return [c for c in self.calls if c.op == op and c.timed and c.ok]


def _p50_ms(calls: list[Call], attr: str) -> float | None:
    return float(np.median([getattr(c, attr) for c in calls])) * 1000.0 if calls else None


def _cost_metrics(h: Harness, w) -> dict[str, float | None]:
    """The cost metrics both workloads share: wall and CPU medians of
    the headline and the side op, and items per wall and per CPU second.

    The item rate is the mean over ``w.items_mix`` of each group's rate
    at its fixed mix of calls, ``(op, calls per round)``: the items of a
    round over the sum of each op's median cost times its calls. It is
    the rate of a client that spends equal time in each group, and it
    depends neither on how many calls of each kind a run completed nor
    on a single slow call."""
    head, side = h.timed_calls(w.headline), h.timed_calls(w.side)

    def rate(attr: str) -> float | None:
        rates = []
        for mix in w.items_mix:
            items = secs = 0.0
            for op, n in mix:
                calls = h.timed_calls(op)
                if not calls:
                    return None
                items += n * float(np.mean([c.items for c in calls]))
                secs += n * float(np.median([getattr(c, attr) for c in calls]))
            if secs <= 0:
                return None
            rates.append(items / secs)
        return sum(rates) / len(rates)

    return {
        "wall_p50_ms": _p50_ms(head, "seconds"),
        "side_wall_p50_ms": _p50_ms(side, "seconds"),
        "items_per_s": rate("seconds"),
        "cpu_p50_ms": _p50_ms(head, "cpu_s"),
        "side_cpu_p50_ms": _p50_ms(side, "cpu_s"),
        "items_per_cpu_s": rate("cpu_s"),
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# --- facade ----------------------------------------------------------------------


class Facade:
    """``SparkVectorDatabase`` over a driver-side store of ``STORE``
    vectors with ``{"label": i % 10}`` metadata, all inserted during
    set-up. The timed window has two phases that share it equally,
    standing for two workloads of their own. The read phase sends only
    reads (9 in 10 unfiltered, 1 in 10 with a label filter), which all
    hit the cached DataFrame. The mixed phase sends each unfiltered read
    right after one write (insert : update_position : delete :
    update_metadata = 4 : 3 : 2 : 1), so every read rebuilds the
    DataFrame from the memtable. The phases alternate step by step, so
    each samples the whole window: a burst of load on the host lands
    on both alike, and neither gets only the early or the late part of
    the run."""

    name = "facade"
    STORE = 5_000
    # cached reads keep getting faster through a run's first ~50 (about
    # 280 ms in the first ten, 180 ms by the fortieth, on a 4-core host)
    # while the JIT compiles the read path; after 30 warm-up reads, the
    # timed reads of runs that fit one read unit in the window cost
    # 1.1-1.4x those of runs that fit two. This many leave the timed
    # reads near the floor, so their median does not depend on how far
    # the decline got
    WARM_READS = 60
    WARM_PAIRS = 1
    headline, side = "api.knn", "api.knn_rebuild"
    # every closed-loop call, by phase, at the schedule's mix: one or two
    # filtered reads per run are too few for a steady figure of their own
    items_mix = (
        (("api.knn", gen.FILTER_EVERY - 1), ("api.knn_filtered", 1)),
        (("api.write", 1), ("api.knn_rebuild", 1)),
    )

    def __init__(self, h: Harness) -> None:
        self.h = h
        self.db = None

    def setup(self) -> None:
        from lightweight_vector_database_spark.api import SparkVectorDatabase

        h, dim = self.h, gen.DIM
        if self.db is not None:
            self.db.to_dataframe().unpersist()
        X = h.timed_setup("gen.vectors_s", lambda: gen.base_vectors(h.seed, self.STORE))
        labels = np.arange(self.STORE) % gen.LABELS

        def build():
            db = SparkVectorDatabase(h.spark, dim, [-1.0] * dim, [1.0] * dim)
            db.insert_many(list(X), [{"label": int(v)} for v in labels])
            # the first read materializes the store's DataFrame and index
            db.find_k_nearest_neighbors(X[0], K)
            return db

        self.db = h.timed_setup("api.build_s", build)
        # numpy mirror of the store; ids are dense and never reused
        cap = self.STORE + 100_000
        self.pos = np.zeros((cap, dim), dtype=np.float32)
        self.pos[: self.STORE] = X
        self.label = np.zeros(cap, dtype=np.int64)
        self.label[: self.STORE] = labels
        self.alive = np.zeros(cap, dtype=bool)
        self.alive[: self.STORE] = True
        self.next_id = self.STORE
        self.read_ops = gen.facade_ops(h.seed, 4_000, mixed=False)
        self.mixed_ops = gen.facade_ops(h.seed + 1, 2_000, mixed=True)
        self.ri = self.mi = 0
        self.read_s = self.mixed_s = 0.0

    def warmup(self) -> None:
        for _ in range(self.WARM_PAIRS):
            self._mixed_step()
        # then reads from the schedule's tail, so the timed reads start at
        # its head and on the cache the warm-up reads used; only the last
        # filtered read of the tail, as one costs about as much as seven
        # unfiltered ones
        tail = self.read_ops[-self.WARM_READS:]
        for op in tail:
            if op.label is None or op is tail[-1]:
                self._read(op, "api.knn" if op.label is None else "api.knn_filtered")

    def step(self) -> None:
        """A read unit or a write-read pair, whichever phase has had less
        of the window so far."""
        t = time.perf_counter()
        if self.read_s <= self.mixed_s:
            self._read_unit()
            self.read_s += time.perf_counter() - t
        else:
            self._mixed_step()
            self.mixed_s += time.perf_counter() - t

    def _read_unit(self) -> None:
        """``FILTER_EVERY`` reads, the last one filtered: whole units keep
        the 9 : 1 mix in every run."""
        for _ in range(gen.FILTER_EVERY):
            op = self.read_ops[self.ri % len(self.read_ops)]
            self.ri += 1
            self._read(op, "api.knn" if op.label is None else "api.knn_filtered")

    def _mixed_step(self) -> None:
        w = self.mixed_ops[self.mi % len(self.mixed_ops)]
        r = self.mixed_ops[(self.mi + 1) % len(self.mixed_ops)]
        self.mi += 2
        self._write(w)
        self._read(r, "api.knn_rebuild")

    def _read(self, op: gen.FacadeOp, name: str) -> None:
        db, lab = self.db, op.label
        flt = None if lab is None else (lambda m, lab=lab: m["label"] == lab)
        cand = self.alive if lab is None else self.alive & (self.label == lab)
        dist = np.full(len(self.alive), np.nan)
        idx = np.flatnonzero(cand)
        dist[idx] = oracle.sq_dists(self.pos[idx], op.vec)

        def check(res):
            self._check_read(res, dist)

        self.h.op(name, lambda: db.find_k_nearest_neighbors(op.vec, K, filter=flt), check=check)

    def _check_read(self, res, dist: np.ndarray) -> None:
        oracle.check_knn(self._ids_of(res), [d for _, d in res], dist, K)

    def _ids_of(self, res) -> list[int]:
        # the facade returns entries, not ids: map each back through its
        # label and exact position, which identify a live entry
        out = []
        for entry, _ in res:
            if entry is None:
                raise CheckFailed("result names an entry that does not exist")
            pos = np.asarray(entry.position, dtype=np.float32)
            hits = np.flatnonzero(self.alive & (self.pos == pos).all(axis=1))
            hits = [i for i in hits if self.label[i] == entry.metadata["label"]]
            if not hits:
                raise CheckFailed("returned entry matches no live entry of the store")
            out.append(int(hits[0]))
        return out

    def _write(self, op: gen.FacadeOp) -> None:
        db, h = self.db, self.h
        live = np.flatnonzero(self.alive)
        target = int(live[int(op.pick * len(live))])
        vec = op.vec

        if op.kind == "insert":
            def call():
                return db.insert(vec, {"label": op.label})

            def check(new_id):
                if new_id != self.next_id:
                    raise CheckFailed(f"insert returned id {new_id}, expected {self.next_id}")
        elif op.kind == "update_position":
            def call():
                return db.update_position(target, vec)

            check = None
        elif op.kind == "delete":
            def call():
                return db.delete(target)

            def check(entry):
                if entry is None or not np.array_equal(entry.position, self.pos[target]) or (
                    entry.metadata != {"label": int(self.label[target])}
                ):
                    raise CheckFailed(f"delete({target}) returned {entry!r}")
        else:
            def call():
                return db.update_metadata(target, {"label": op.label})

            check = None
        rec = h.op("api.write", call, check=check)
        if not rec.ok:
            return
        # mirror the write only after the engine acknowledged it
        if op.kind == "insert":
            i = self.next_id
            self.next_id += 1
            self.pos[i], self.label[i], self.alive[i] = vec, op.label, True
        elif op.kind == "update_position":
            self.pos[target] = vec
        elif op.kind == "delete":
            self.alive[target] = False
        else:
            self.label[target] = op.label

    def metrics(self) -> dict[str, float | None]:
        reads = [c for c in self.h.calls if c.op.startswith("api.knn") and c.timed]
        return {
            **_cost_metrics(self.h, self),
            "recall": (sum(c.ok for c in reads) / len(reads)) if reads else None,
        }

    def layer_metrics(self) -> dict[str, float]:
        return {}


# --- batch: similarity join and near-duplicate curation -----------------------


@dataclass(frozen=True)
class Probes:
    df: object  # DataFrame (probe_id long, probe_vec array<double>)
    n: int  # probe ids are 0 .. n-1


@dataclass(frozen=True)
class Docs:
    df: object  # DataFrame (doc_id long, text string)
    n: int
    keep: set[int]  # ids exact_dedup must keep
    exact: set[tuple[int, int]]  # planted exact pairs (low id, high id)
    near: set[tuple[int, int]]  # planted one-token-edit pairs


class Batch:
    """The batch side of the engine, which the facade never touches.

    Similarity join: a ``BASE``-vector base stored two ways, as a
    cell-partitioned grid snapshot and as an IVF-PQ codes snapshot, and
    a ``PROBES``-row probe table drawn from the same mixture.
    Near-duplicate curation: ``DOCS`` generated documents of ~60 tokens
    with exact duplicates and one-token-edit near-duplicates planted at
    known rates. Each pass runs ``knn_join_bulk`` and ``ann_join_topk``
    on the same probes, then ``minhash_dedup_candidates`` and
    ``exact_dedup`` on the documents."""

    name = "batch"
    BASE = 4_000
    PROBES = 200
    # 3^2 cells: at dim 64 a deeper grid prunes little and multiplies the
    # per-cell work
    GRID_DEPTH = 2
    CENTROIDS = 16
    PQ_M = 8
    PQ_KSUB = 64
    TRAIN_SAMPLE = 2_048
    NPROBE = 2
    REFINE = 2
    # recall@10 at this operating point sits well below 1 by design, so a
    # recall loss shows; the floor only catches a broken ANN path
    ANN_RECALL_FLOOR = 0.25
    DOCS = 2_000
    NUM_HASHES, BANDS, NGRAM = 32, 8, 3
    # a one-token edit keeps ~0.9 3-gram Jaccard, which 8 bands of 4 rows
    # find with probability ~0.9998 per pair
    PAIR_RECALL_FLOOR = 0.95
    # the first pass of each op costs 1.5-2x a later one; the second
    # still costs 10-25% more than the third, but its spread from run to
    # run measured no wider, and a second warm-up pass would not fit
    # the benchmark's time budget
    WARM_PASSES = 1
    headline, side = "bulk_knn.join", "ann_join.join"
    # the rows a pass puts through its four ops: probes through each
    # join, documents through each dedup operator
    items_mix = (
        (("bulk_knn.join", 1), ("ann_join.join", 1), ("dedup.minhash", 1), ("dedup.exact", 1)),
    )

    def __init__(self, h: Harness) -> None:
        self.h = h
        self.reps = 0

    def setup(self) -> None:
        self._setup_join()
        self._setup_docs()
        self.reps += 1

    def _setup_join(self) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from lightweight_vector_database_spark.operators.similarity import (
            ivfpq_encode,
            train_ivfpq,
        )
        from lightweight_vector_database_spark.plans.grid_index import (
            GridIndex,
            build_index,
            index_stats,
        )

        h, dim, spark = self.h, gen.DIM, self.h.spark
        X = h.timed_setup("gen.vectors_s", lambda: gen.base_vectors(h.seed, self.BASE))
        Q = gen.probe_vectors(h.seed, self.PROBES)
        base = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(self.BASE, dtype=np.int64), "embedding": list(X)})
        )
        self.index = GridIndex([-1.0] * dim, [1.0] * dim, num_splits=2, depth=self.GRID_DEPTH)
        grid_dir = h.fresh_dir(f"grid{self.reps}")
        codes_dir = h.fresh_dir(f"codes{self.reps}")
        h.timed_setup(
            "grid_index.build_s",
            lambda: build_index(base, self.index)
            .repartition("cell_id")
            .write.partitionBy("cell_id")
            .parquet(grid_dir),
        )
        self.snap = spark.read.parquet(grid_dir).withColumn(
            "cell_id", F.col("cell_id").cast("long")
        )
        self.stats = h.timed_setup("grid_index.stats_s", lambda: index_stats(self.snap))
        h.note("grid_index.cells", float(len(self.stats)))
        self.cents, self.books = h.timed_setup(
            "similarity.train_s",
            lambda: train_ivfpq(
                base, n_centroids=self.CENTROIDS, m=self.PQ_M, ksub=self.PQ_KSUB,
                sample_rows=self.TRAIN_SAMPLE, sample_id_col="vec_id",
            ),
        )
        h.timed_setup(
            "similarity.encode_s",
            lambda: ivfpq_encode(base, self.cents, self.books)
            .select("vec_id", "cell", "pq_code")
            .repartition("cell")
            .write.partitionBy("cell")
            .parquet(codes_dir),
        )
        self.codes = spark.read.parquet(codes_dir).withColumn("cell", F.col("cell").cast("int"))
        self.raw = self.snap.select("vec_id", "embedding")
        h.note(
            "snapshot.bytes_per_vector_byte",
            (_dir_bytes(grid_dir) + _dir_bytes(codes_dir)) / X.nbytes,
        )
        self.probes = self._probe_table(Q)
        self.X, self.Q = X, Q

    def _probe_table(self, Q: np.ndarray) -> Probes:
        import pandas as pd

        df = self.h.spark.createDataFrame(
            pd.DataFrame(
                {
                    "probe_id": np.arange(len(Q), dtype=np.int64),
                    "probe_vec": list(Q.astype(np.float64)),
                }
            )
        )
        return Probes(df, len(Q))

    def _setup_docs(self) -> None:
        h = self.h
        c = h.timed_setup("gen.docs_s", lambda: gen.corpus(h.seed, self.DOCS))
        self.docs = self._doc_table(c)

    def _doc_table(self, c: gen.Corpus) -> Docs:
        import pandas as pd

        df = self.h.spark.createDataFrame(pd.DataFrame({"doc_id": c.ids, "text": c.texts}))
        return Docs(
            df,
            len(c.ids),
            keep=set(c.ids.tolist()) - {max(a, b) for a, b in c.exact_pairs},
            exact={(min(a, b), max(a, b)) for a, b in c.exact_pairs},
            near={(min(a, b), max(a, b)) for a, b in c.near_pairs},
        )

    def prepare_oracle(self) -> None:
        """Exact answers for every probe (benchmark-side, not timed)."""
        Xd = self.X.astype(np.float64)
        self.dists = np.stack([oracle.sq_dists(Xd, q) for q in self.Q])
        self.truth = oracle.exact_topk(self.X, np.arange(self.BASE), self.Q, K)

    def warmup(self) -> None:
        for _ in range(self.WARM_PASSES):
            self.step()

    def step(self) -> None:
        """One pass: both joins on the probes, both dedup operators on
        the documents."""
        from lightweight_vector_database_spark.operators.dedup import (
            exact_dedup,
            minhash_dedup_candidates,
        )
        from lightweight_vector_database_spark.plans.ann_join import ann_join_topk
        from lightweight_vector_database_spark.plans.bulk_knn import knn_join_bulk

        h = self.h
        probes, docs = self.probes, self.docs
        # futility_ratio above 1 keeps the cell-pruned cogroup path even
        # when the bounds prune little, which is the path measured here
        h.op(
            "bulk_knn.join",
            lambda: knn_join_bulk(
                self.snap, self.index, probes.df, K, stats=self.stats, futility_ratio=1.01
            ).select(*JOIN_COLS),
            materialize=self._collect_join,
            check=lambda res: self._check_exact_join(res, probes.n),
            items=probes.n,
        )
        h.op(
            "ann_join.join",
            lambda: ann_join_topk(
                self.codes, self.cents, self.books, probes.df, self.raw,
                k=K, nprobe=self.NPROBE, refine=self.REFINE,
            ).select(*JOIN_COLS),
            materialize=self._collect_join,
            check=lambda res: self._check_ann_join(res, probes.n),
            items=probes.n,
        )
        h.op(
            "dedup.minhash",
            lambda: minhash_dedup_candidates(
                docs.df, num_hashes=self.NUM_HASHES, bands=self.BANDS, ngram=self.NGRAM
            ),
            materialize=lambda df: df.collect(),
            check=lambda rows: self._check_minhash(rows, docs),
            items=docs.n,
        )
        h.op(
            "dedup.exact",
            lambda: exact_dedup(docs.df).select("doc_id", "dup_count"),
            materialize=lambda df: df.collect(),
            check=lambda rows: self._check_exact_dedup(rows, docs),
            items=docs.n,
        )

    @staticmethod
    def _collect_join(df) -> dict[int, list[tuple[int, float]]]:
        out: dict[int, list[tuple[int, int, float]]] = {}
        for r in df.collect():
            out.setdefault(int(r.probe_id), []).append((int(r.rank), int(r.vec_id), float(r.dist)))
        return {p: [(i, d) for _, i, d in sorted(v)] for p, v in out.items()}

    def _check_exact_join(self, res, n: int) -> None:
        if sorted(res) != list(range(n)):
            raise CheckFailed(f"{len(res)} probes answered, expected {n}")
        for p, rows in res.items():
            try:
                oracle.check_knn([i for i, _ in rows], [d for _, d in rows], self.dists[p], K)
            except CheckFailed as e:
                raise CheckFailed(f"probe {p}: {e}") from None

    def _check_ann_join(self, res, n: int) -> None:
        if sorted(res) != list(range(n)):
            raise CheckFailed(f"{len(res)} probes answered, expected {n}")
        for p, rows in res.items():
            ids = [i for i, _ in rows]
            if not 0 < len(ids) <= K or len(set(ids)) != len(ids):
                raise CheckFailed(f"probe {p}: {len(ids)} rows or duplicate ids")
            for i, d in rows:
                if not 0 <= i < self.BASE or not oracle.close(d, float(self.dists[p][i])):
                    raise CheckFailed(f"probe {p}: id {i} distance {d!r} is not exact")
        recall = oracle.recall({p: {i for i, _ in r} for p, r in res.items()}, self.truth[:n])
        if recall < self.ANN_RECALL_FLOOR:
            raise CheckFailed(f"recall@10 {recall:.3f} below {self.ANN_RECALL_FLOOR}")
        self.ann_recall = recall

    def _check_minhash(self, rows, docs: Docs) -> None:
        pairs = {(min(r.id1, r.id2), max(r.id1, r.id2)): r.est_jaccard for r in rows}
        lost = [p for p in docs.exact if pairs.get(p) != 1.0]
        if lost:
            raise CheckFailed(f"{len(lost)} planted exact pairs missing or below 1.0, e.g. {lost[0]}")
        found = len(docs.near & pairs.keys())
        recall = found / len(docs.near)
        if recall < self.PAIR_RECALL_FLOOR:
            raise CheckFailed(f"near-duplicate pair recall {recall:.3f} below {self.PAIR_RECALL_FLOOR}")
        self.pair_recall = recall
        self.pair_precision = (found + len(docs.exact)) / len(pairs)

    @staticmethod
    def _check_exact_dedup(rows, docs: Docs) -> None:
        kept = {int(r.doc_id) for r in rows}
        if kept != docs.keep:
            raise CheckFailed(
                f"kept {len(kept)} documents, expected {len(docs.keep)} "
                f"({len(kept ^ docs.keep)} differ)"
            )
        groups = [r.dup_count for r in rows if r.dup_count != 1]
        if len(groups) != len(docs.exact) or any(g != 2 for g in groups):
            raise CheckFailed(f"{len(groups)} duplicate groups, planted {len(docs.exact)}")

    def metrics(self) -> dict[str, float | None]:
        return {**_cost_metrics(self.h, self), "recall": getattr(self, "ann_recall", None)}

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        if hasattr(self, "pair_recall"):
            out["dedup.minhash.recall"] = self.pair_recall
            out["dedup.minhash.precision"] = self.pair_precision
        return out


WORKLOADS = {w.name: w for w in (Facade, Batch)}
