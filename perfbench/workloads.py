"""The three workloads: what each sets up, the operations its closed loop
issues, and the independent model each result is checked against.

A workload object is created once per run with the seeded generator and
the generated tables. ``setup(spark, rep)`` builds its frames or stores
(the benchmark times it, several times per run); ``next_ops()`` returns
the operations of the next cycle as :class:`Op` records. ``fn()`` is the
timed call; ``after(result)``, run untimed, updates the workload's model
and counters. Checks run after the timed window and return the number of
wrong results.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections import Counter
from typing import Any, Callable, NamedTuple

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spark_indexedrdd_spark.core import IndexedDataFrame
from spark_indexedrdd_spark.functions import retrieval, store_commit
from spark_indexedrdd_spark.localframe import local_rows_df
from spark_indexedrdd_spark.sources import tables
from spark_indexedrdd_spark.sources.versioned import VersionedKVStore

COMPACT_EVERY = 8  # deltas between compactions: stream_ingest's cadence


class Op(NamedTuple):
    kind: str
    op_class: str  # read | write | scan | compact
    fn: Callable[[], Any]
    after: "Callable[[Any], None] | None" = None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    name = ""
    # operations run untimed before the timed window, so JIT compilation
    # and first-use costs of every operation kind are paid before timing
    warmup_ops = 0
    # operation kind -> count per period of the workload: the mix that
    # ops_per_s is the throughput of
    MIX: dict = {}

    def __init__(
        self, data_dir: str, work_dir: str, info: dict, rng: np.random.Generator, trace: bool
    ):
        self.trace = trace  # collect the counters the traced run reports
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.info = info
        self.rng = rng
        self.samples: list = []  # results recorded for check()
        self.counters: dict = {}

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def teardown_setup(self, rep: int) -> None:
        """Drop what ``setup(rep)`` left on disk before the next repetition."""
        shutil.rmtree(os.path.join(self.work_dir, f"rep{rep}"), ignore_errors=True)


# --------------------------------------------------------------------- #
# point_serve
# --------------------------------------------------------------------- #


class PointServe(Workload):
    """Point reads and versioned writes on two cached frames: orders
    (o_orderkey -> o_totalprice) on the default ``isin`` path, and a
    ``spark.range`` frame served through ``with_point_index()``."""

    name = "point_serve"
    MISS_SHARE = 0.05
    warmup_ops = 20

    def __init__(self, *a, sf: float, **k):
        super().__init__(*a, **k)
        t = pq.read_table(os.path.join(self.data_dir, "orders.parquet"))
        self.order_keys = t.column("o_orderkey").to_numpy()
        # the model: orders from the parquet file, the range frame's
        # value is 7 * k + 1 for 0 <= k < n_range
        self.orders = dict(zip(self.order_keys.tolist(), t.column("o_totalprice").to_pylist()))
        self.n_range = max(10_000, int(10_000_000 * sf))
        # Zipf-skewed key ranks over a seeded permutation, so hot keys
        # are spread over partitions; a share of draws are misses
        self.perm = {
            "orders": self.rng.permutation(len(self.order_keys)),
            "range": self.rng.permutation(self.n_range),
        }
        self.frames: dict = {}
        self.index_build_s = 0.0

    def _zipf_keys(self, frame: str, n: int) -> list:
        size = len(self.perm[frame])
        ranks = np.minimum(self.rng.zipf(1.1, n) - 1, size - 1)
        idx = self.perm[frame][ranks]
        if frame == "orders":
            ks = self.order_keys[idx]
            miss = -self.rng.integers(1, 1 << 40, n)  # keys are positive
        else:
            ks = idx
            miss = self.n_range + self.rng.integers(0, 1 << 40, n)
        is_miss = self.rng.random(n) < self.MISS_SHARE
        return [int(x) for x in np.where(is_miss, miss, ks)]

    def expected(self, frame: str, k: int, overlay=None):
        if overlay is not None and k in overlay:
            return overlay[k]
        if frame == "orders":
            return self.orders.get(k)
        return 7 * k + 1 if 0 <= k < self.n_range else None

    def setup(self, spark, rep: int) -> None:
        orders = tables.orders_kv(spark, self.data_dir)
        rng_df = spark.range(self.n_range).select(
            F.col("id").alias("k"), (F.col("id") * 7 + 1).alias("v")
        )
        rangef = IndexedDataFrame.from_unique(rng_df, "k")
        orders.count()  # cache warm-up
        rangef.count()
        t0 = time.perf_counter()
        rangef.with_point_index()
        self.index_build_s = time.perf_counter() - t0
        self.frames = {"orders": orders, "range": rangef}

    # One cycle of 40 operations: 60% get, 15% multiget(10), 5%
    # multiget(1000), 20% put or delete versions read back. The mix is a
    # fixed schedule, not a draw per operation, so every window holds the
    # same shares (the order within a cycle is shuffled); writes take
    # twice the reference mix's 10% so that their median rests on about
    # 20 samples in a 16 s window. Each class's median must fall inside
    # one latency mode, so two thirds of the reads, and every
    # multiget(1000) and write, go to the 1M-key indexed frame: the
    # reference README's put/get/delete scale; and puts, which run 15-25%
    # slower than deletes, are three writes in four.
    SCHEDULE = (
        [("get", "range")] * 16 + [("get", "orders")] * 8
        + [("multiget10", "range")] * 4 + [("multiget10", "orders")] * 2
        + [("multiget1000", "range")] * 2
        + [("put", "range")] * 6 + [("delete", "range")] * 2
    )
    MIX = Counter(f"{kind}_{frame}" for kind, frame in SCHEDULE)

    def next_ops(self) -> list:
        order = self.rng.permutation(len(self.SCHEDULE))
        return [self._op(*self.SCHEDULE[i]) for i in order]

    def _op(self, kind: str, frame: str) -> Op:
        f = self.frames[frame]
        if kind in ("get", "multiget10", "multiget1000"):
            n = {"get": 1, "multiget10": 10, "multiget1000": 1000}[kind]
            ks = self._zipf_keys(frame, n)
            fn = (lambda: {ks[0]: f.get(ks[0])}) if n == 1 else (lambda: f.multiget(ks))
            return Op(f"{kind}_{frame}", "scan" if n == 1000 else "read", fn, self._after(frame, ks))
        # a put or delete version, read back through its overlay: the
        # written keys plus as many untouched ones
        ks = list(dict.fromkeys(self._zipf_keys(frame, 10)))
        readback = ks + self._zipf_keys(frame, 10)
        if kind == "put":
            if frame == "orders":
                vals = [round(float(x), 2) for x in self.rng.uniform(1.0, 1e5, len(ks))]
            else:
                vals = [int(x) for x in self.rng.integers(0, 1 << 40, len(ks))]
            overlay = dict(zip(ks, vals))
            fn = lambda: f.multiput(overlay).multiget(readback)  # noqa: E731
        else:
            overlay = {k: None for k in ks}
            fn = lambda: f.delete(ks).multiget(readback)  # noqa: E731
        return Op(f"{kind}_{frame}", "write", fn, self._after(frame, readback, overlay))

    def _after(self, frame: str, ks: list, overlay: "dict | None" = None):
        def after(got):
            self.samples.append((frame, ks, got, overlay))
            if overlay is not None:
                asked = set(ks)
                self.count("overlay_keys", sum(1 for k in asked if k in overlay))
                self.count("overlay_requested", len(asked))

        return after

    def check(self, spark) -> int:
        bad = 0
        for frame, ks, got, overlay in self.samples:
            want = {}
            for k in ks:
                v = self.expected(frame, k, overlay)
                if v is not None:
                    want[k] = v
            if {k: v for k, v in got.items() if v is not None} != want:
                bad += 1
        return bad


# --------------------------------------------------------------------- #
# kv_ingest_read
# --------------------------------------------------------------------- #


class KvIngestRead(Workload):
    """A persisted ``VersionedKVStore`` over orders. Each cycle is one
    compaction period of 8 deltas: four times a ~1k-key put batch (merges
    alternate overwrite and sum; a tenth are new keys) and a 100-key
    delete batch; after the second pair it reads 10 keys five times and
    runs the revenue scan once; ``compact()`` plus
    ``vacuum(keep_versions=2)`` end it."""

    name = "kv_ingest_read"
    # Every read and scan folds the same 4 deltas, the mean fold chain of
    # a period: a read's latency grows with its chain (3-4x from 2 to 8
    # deltas here), so reads spread over the period would put the read
    # median on the edge between two latency modes, and where the window
    # cuts the last period would move it.
    BATCH = 1000
    DELETES = 100
    # after the second commit pair, in this order
    MID_PERIOD = ("read", "read", "read", "scan", "read", "read")
    MIX = {
        "commit_puts": COMPACT_EVERY // 2,
        "commit_deletes": COMPACT_EVERY // 2,
        "read_multiget10": MID_PERIOD.count("read"),
        "scan_revenue": MID_PERIOD.count("scan"),
        "compact_vacuum": 1,
    }
    # the first cycle runs untimed, so the window starts from a fresh
    # snapshot
    warmup_ops = sum(MIX.values())

    def __init__(self, *a, sf: float, **k):
        super().__init__(*a, **k)
        t = pq.read_table(os.path.join(self.data_dir, "orders.parquet"))
        self.keys = t.column("o_orderkey").to_numpy()
        self.model = dict(zip(self.keys.tolist(), t.column("o_totalprice").to_pylist()))
        li = pq.read_table(os.path.join(self.data_dir, "lineitem.parquet"))
        rev = pc.multiply(li.column("l_extendedprice"), pc.subtract(1.0, li.column("l_discount")))
        per_key = (
            li.select(["l_orderkey"])
            .append_column("rev", rev)
            .group_by("l_orderkey")
            .aggregate([("rev", "sum")])
        )
        self.revenue = dict(
            zip(per_key.column("l_orderkey").to_pylist(), per_key.column("rev_sum").to_pylist())
        )
        self.next_new_key = int(self.keys.max()) + 1
        self.pairs = 0  # put/delete pairs issued
        self.deltas = 0  # since the last compaction
        self.recent: list = []
        self.store = None
        self.index_build_s = 0.0

    def setup(self, spark, rep: int) -> None:
        path = os.path.join(self.work_dir, f"rep{rep}", "kv")
        orders = tables.orders_kv(spark, self.data_dir, cache=False)
        li = tables.load_table(spark, self.data_dir, "lineitem")
        self.lineitem = li.select(
            F.col("l_orderkey").alias("o_orderkey"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        t0 = time.perf_counter()
        self.store = VersionedKVStore.init(orders, path)
        self.index_build_s = time.perf_counter() - t0
        self.path = path
        self.spark = spark

    def _commit_after(self, apply):
        def after(v):
            apply()
            self.deltas += 1
            if self.trace:
                self.count("written_bytes", dir_bytes(os.path.join(self.path, f"v{v}")))

        return after

    def next_ops(self) -> list:
        ops = []
        for i in range(COMPACT_EVERY // 2):
            ops += self._commit_pair()
            if i == 1:
                ops += [self._read_op() if o == "read" else self._scan_op() for o in self.MID_PERIOD]
        ops.append(Op("compact_vacuum", "compact", self._compact, self._after_compact))
        return ops

    def _commit_pair(self) -> list:
        merge = "overwrite" if self.pairs % 2 == 0 else "sum"
        self.pairs += 1
        n_new = self.BATCH // 10
        old = self.rng.choice(self.keys, self.BATCH - n_new, replace=False)
        new = np.arange(self.next_new_key, self.next_new_key + n_new)
        self.next_new_key += n_new
        ks = [int(x) for x in np.concatenate([old, new])]
        vals = [round(float(x), 2) for x in self.rng.uniform(1.0, 1e5, len(ks))]
        puts = list(zip(ks, vals))

        def apply_puts():
            # exactly what the delta means at read time: sum folds into
            # a present key, an absent key takes the new value
            for k, v in puts:
                if merge == "sum" and k in self.model:
                    self.model[k] = self.model[k] + v
                else:
                    self.model[k] = v
            self.recent = ks[-20:]
            self.count("committed_keys", len(puts))

        schema = "o_orderkey long, o_totalprice double"
        dels = [int(x) for x in self.rng.choice(self.keys, self.DELETES, replace=False)]

        def apply_deletes():
            for k in dels:
                self.model.pop(k, None)
            self.count("committed_keys", len(dels))

        return [
            Op(
                "commit_puts",
                "write",
                lambda: self.store.commit_puts(local_rows_df(self.spark, puts, schema), merge=merge),
                self._commit_after(apply_puts),
            ),
            Op(
                "commit_deletes",
                "write",
                lambda: self.store.commit_deletes(
                    local_rows_df(self.spark, [(k,) for k in dels], "o_orderkey long")
                ),
                self._commit_after(apply_deletes),
            ),
        ]

    def _read_op(self) -> Op:
        # 8 keys of the initial table (some since deleted) and 2 of the
        # newest batch, drawn now; the model is consulted when the read
        # has run, after every commit before it
        ks = [int(x) for x in self.rng.choice(self.keys, 8, replace=False)]
        pick = self.rng.integers(0, 20, 2)

        def read():
            keys = ks + [self.recent[i % len(self.recent)] for i in pick] if self.recent else ks
            return keys, self.store.read().multiget(keys)

        def after(res):
            keys, got = res
            self._fold_sample()
            self.samples.append(("read", got, {k: self.model[k] for k in keys if k in self.model}))

        return Op("read_multiget10", "read", read, after)

    def _scan_op(self) -> Op:
        def scan():
            idf = self.store.read()
            rev = idf.aggregate_using_index_expr(self.lineitem, F.sum("rev"), alias="rev")
            joined = idf.inner_join(rev, f=lambda price, r: F.struct(price.alias("p"), r.alias("r")))
            row = joined.df.agg(
                F.count("*").alias("n"), F.sum("v.p").alias("p"), F.sum("v.r").alias("r")
            ).collect()[0]
            return (row["n"], row["p"], row["r"])

        def after(got):
            self._fold_sample()
            live = [k for k in self.model if k in self.revenue]
            want = (
                len(live),
                math.fsum(self.model[k] for k in live),
                math.fsum(self.revenue[k] for k in live),
            )
            self.samples.append(("scan", got, want))

        return Op("scan_revenue", "scan", scan, after)

    def _fold_sample(self) -> None:
        self.count("fold_reads")
        self.count("fold_deltas", self.deltas)

    def _compact(self):
        self.store.compact()
        return self.store.vacuum(keep_versions=2)

    def _after_compact(self, _reclaimed) -> None:
        self.deltas = 0

    def space_amp(self) -> float:
        with open(os.path.join(self.path, "manifest.json")) as fh:
            m = json.load(fh)
        snap = max(e["v"] for e in m["versions"] if e["kind"] == "snapshot")
        return dir_bytes(self.path) / max(1, dir_bytes(os.path.join(self.path, f"v{snap}", "snapshot")))

    def check(self, spark) -> int:
        bad = 0
        for kind, got, want in self.samples:
            if kind == "read":
                if got != want:
                    bad += 1
            else:
                n, p, r = got
                if n != want[0] or not np.isclose(p, want[1], rtol=1e-9) or not np.isclose(
                    r, want[2], rtol=1e-9
                ):
                    bad += 1
        return bad


# --------------------------------------------------------------------- #
# postings_ingest_serve
# --------------------------------------------------------------------- #


class PostingsIngestServe(Workload):
    """A postings store over half the corpus. Each cycle appends a batch of
    held-out documents, serves BM25 three times and appends another batch;
    every 2nd cycle serves BM25+RM3 and deletes 10 live documents, and
    ``optimize_postings_store`` plus
    ``store_commit.vacuum_store(keep_versions=2)`` follow every 8 appends."""

    name = "postings_ingest_serve"
    # Serve latency grows by about half from one optimize to the next as
    # small files pile up, so a window that cut a period at a varying
    # point would move every median. An optimize period (about 20 s here)
    # is longer than the window, and the window runs on until the mix's
    # optimize has run: it holds exactly one whole period.
    OPTIMIZE_EVERY = 4  # cycles, two appends each
    DELETE_EVERY = RM3_EVERY = 2  # cycles
    # The first serve after a write runs 20-30% slower than the next ones
    # (it reads the new files first); with three BM25 serves after the
    # first append the median lies among the later ones rather than
    # between the two. Two appends a cycle give the write class a median
    # of appends (deletes run about 30% faster) and as many samples as
    # the window allows.
    SERVES_PER_CYCLE = 3
    N_BUCKETS = 64
    QUERIES = 2
    TERMS = 3
    CHECK_EVERY = 4  # check one serve in four against the in-plan model
    PERIOD = OPTIMIZE_EVERY  # cycles; DELETE_EVERY and RM3_EVERY divide it
    MIX = {
        "append": 2 * PERIOD,
        "bm25": PERIOD * SERVES_PER_CYCLE,
        "bm25_rm3": PERIOD // RM3_EVERY,
        "delete": PERIOD // DELETE_EVERY,
        "optimize_vacuum": PERIOD // OPTIMIZE_EVERY,
    }
    # the first cycle (appends, serves, RM3, delete and an optimize), so
    # the timed window starts from a fresh file set
    warmup_ops = SERVES_PER_CYCLE + 5

    def __init__(self, *a, sf: float, **k):
        super().__init__(*a, **k)
        self.n_docs = self.info["documents"]
        self.n_base = self.n_docs // 2
        self.batch = max(1, (self.n_docs - self.n_base) // 100)
        self.hi = self.n_base  # live ids: [0, hi) minus deleted
        self.appended = self.n_base  # end of the last batch handed out
        self.deleted: set = set()
        self.cycle = 0
        self.serves: dict = {}
        self.vocab = self.info["vocab"]
        self.weights = self.info["vocab_weights"]
        self.index_build_s = 0.0

    def setup(self, spark, rep: int) -> None:
        self.path = os.path.join(self.work_dir, f"rep{rep}", "postings")
        self.docs = tables.load_table(spark, self.data_dir, "documents").select("doc_id", "text")
        t0 = time.perf_counter()
        retrieval.write_postings_store(
            self.docs.where(F.col("doc_id") < self.n_base), self.path, n_buckets=self.N_BUCKETS
        )
        self.index_build_s = time.perf_counter() - t0
        self.spark = spark

    def _query(self) -> tuple:
        """QUERIES queries of TERMS distinct terms each, drawn with the
        corpus's own term frequencies. Several queries per call keep a
        call's cost from hinging on one query's postings-list lengths."""
        out = []
        for qid in range(1, self.QUERIES + 1):
            terms = self.rng.choice(len(self.vocab), self.TERMS, replace=False, p=self.weights)
            out.append((qid, " ".join(self.vocab[int(t)] for t in terms)))
        return tuple(out)

    def _live(self) -> tuple:
        return (self.hi, frozenset(self.deleted))

    def next_ops(self) -> list:
        c = self.cycle
        self.cycle += 1
        serves = [self._serve_op("bm25", "read") for _ in range(self.SERVES_PER_CYCLE)]
        ops = self._append_op(f"a{c}_0") + serves + self._append_op(f"a{c}_1")
        if c % self.RM3_EVERY == 0:
            ops.append(self._serve_op("bm25_rm3", "scan"))
        if c % self.DELETE_EVERY == 0:
            ops.append(self._delete_op(c))
        if c % self.OPTIMIZE_EVERY == 0:
            ops.append(Op("optimize_vacuum", "compact", self._optimize, self._after_optimize))
        return ops

    def _append_op(self, tag: str) -> list:
        """The next batch of held-out documents, or nothing once all are in."""
        if self.appended >= self.n_docs:
            return []
        lo = self.appended
        hi = self.appended = min(self.n_docs, lo + self.batch)
        batch = self.docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

        def after(_):
            self.hi = hi
            self._files_sample()

        fn = lambda: retrieval.append_postings_batch(batch, self.path, batch_tag=tag)  # noqa: E731
        return [Op("append", "write", fn, after)]

    def _serve_op(self, kind: str, op_class: str) -> Op:
        q = self._query()
        if kind == "bm25":
            serve = lambda: retrieval.bm25_from_store(self.spark, self.path, q)  # noqa: E731
        else:
            serve = lambda: retrieval.bm25_rm3_from_store(  # noqa: E731
                self.spark, self.path, self.docs, q
            )

        def after(rows):
            self.serves[kind] = self.serves.get(kind, 0) + 1
            # every CHECK_EVERY-th BM25 serve and the first RM3 serve
            every = self.CHECK_EVERY if kind == "bm25" else 1 << 30
            if self.serves[kind] % every == 1:
                self.samples.append((kind, q, rows, self._live()))

        return Op(kind, op_class, lambda: [tuple(r) for r in serve().collect()], after)

    def _delete_op(self, c: int) -> Op:
        # drawn when the op runs, among the docs live at that moment
        def delete():
            live = [i for i in range(self.hi) if i not in self.deleted]
            ids = [int(x) for x in self.rng.choice(live, min(10, len(live)), replace=False)]
            retrieval.delete_postings_docs(self.spark, self.path, ids, batch_tag=f"d{c}")
            return ids

        def after(ids):
            self.deleted.update(ids)
            self._files_sample()

        return Op("delete", "write", delete, after)

    def _optimize(self):
        retrieval.optimize_postings_store(self.spark, self.path)
        return store_commit.vacuum_store(self.path, keep_versions=2)

    def _after_optimize(self, out) -> None:
        self.count("vacuum_reclaimed_files", len(out.get("removed_files", [])))
        self._files_sample()

    def _files_sample(self) -> None:
        """Live-file share and space amplification after each write."""
        if not self.trace:
            return
        meta = store_commit.read_meta(self.path)
        root = os.path.join(self.path, "postings")
        live = store_commit.resolve_manifest_files(self.path, meta) or []
        on_disk = store_commit.list_parquet_files(root)
        live_bytes = sum(os.path.getsize(os.path.join(root, f)) for f in live)
        self.counters.setdefault("files_live_share", []).append(len(live) / max(1, len(on_disk)))
        self.counters.setdefault("space_amp", []).append(dir_bytes(self.path) / max(1, live_bytes))

    def check(self, spark) -> int:
        bad = 0
        for kind, q, rows, (hi, deleted) in self.samples:
            live = self.docs.where(F.col("doc_id") < hi)
            if deleted:
                live = live.where(~F.col("doc_id").isin(sorted(deleted)))
            fn = retrieval.bm25_topk if kind == "bm25" else retrieval.bm25_rm3_topk
            want = [tuple(r) for r in fn(live, q).collect()]
            if sorted(want) != sorted(rows):
                bad += 1
        return bad


WORKLOADS = {w.name: w for w in (PointServe, KvIngestRead, PostingsIngestServe)}
