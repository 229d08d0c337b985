"""Span recording around calls into the library's layers, from outside.

A traced run wraps the public functions of each layer module (listed in
``LAYER_CALLS``) with a recorder, tags every benchmark operation with a
Spark job group, and after the run reads the job and stage records of the
Spark status store. Spans stay in memory until the run ends.

A span is ``[name, start, end, parent, op, info]``: ``start``/``end``
are epoch seconds (the status store reports epoch milliseconds, so the
two share a clock), ``parent`` is the index of the enclosing span, ``op``
the benchmark operation the span belongs to (set-up repetitions are -1,
-2, ...; warm-up operations -100 and below), ``info`` a call's counts.
Spark job intervals become child spans named ``spark.job``, attached to
the innermost span that was open when the job was submitted.

A layer's self time is the duration of its spans minus the part of each
interval covered by that span's children.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict

# (module, attribute path, span name). The layer of a span is the part of
# its name before the last dot (``layer_of``); an operation's root span
# ``op.<kind>`` belongs to the benchmark itself. ``hashing.route`` times the routing loop
# that calls ``hashing.spark_partition_of`` once per key; wrapping that
# per-key function would cost more than the work it measures.
LAYER_CALLS = [
    # driver side of every collect: planning, py4j and row conversion;
    # the jobs it runs are its children
    ("pyspark.sql", "DataFrame.collect", "spark.collect"),
    ("spark_indexedrdd_spark.session", "get_spark", "session.get_spark"),
    ("spark_indexedrdd_spark.sources.tables", "load_table", "sources.tables.load_table"),
    ("spark_indexedrdd_spark.sources.tables", "orders_kv", "sources.tables.orders_kv"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.from_unique", "core.from_unique"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.count", "core.count"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.multiget", "core.multiget"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.multiput", "core.multiput"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.delete", "core.delete"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.multiput_df", "core.multiput_df"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.delete_df", "core.delete_df"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.with_point_index", "core.with_point_index"),
    ("spark_indexedrdd_spark.core", "IndexedDataFrame.inner_join", "core.inner_join"),
    (
        "spark_indexedrdd_spark.core",
        "IndexedDataFrame.aggregate_using_index_expr",
        "core.aggregate_using_index_expr",
    ),
    ("spark_indexedrdd_spark.operators.point", "NativeHashPointIndex.__init__", "operators.point.build"),
    ("spark_indexedrdd_spark.operators.point", "NativeHashPointIndex.multiget", "operators.point.multiget"),
    (
        "spark_indexedrdd_spark.operators.point",
        "NativeHashPointIndex.owning_partitions",
        "hashing.route",
    ),
    ("spark_indexedrdd_spark.sources.versioned", "VersionedKVStore.init", "sources.versioned.init"),
    ("spark_indexedrdd_spark.sources.versioned", "VersionedKVStore.commit_puts", "sources.versioned.commit_puts"),
    (
        "spark_indexedrdd_spark.sources.versioned",
        "VersionedKVStore.commit_deletes",
        "sources.versioned.commit_deletes",
    ),
    ("spark_indexedrdd_spark.sources.versioned", "VersionedKVStore.read", "sources.versioned.read"),
    ("spark_indexedrdd_spark.sources.versioned", "VersionedKVStore.compact", "sources.versioned.compact"),
    ("spark_indexedrdd_spark.sources.versioned", "VersionedKVStore.vacuum", "sources.versioned.vacuum"),
    ("spark_indexedrdd_spark.functions.store_commit", "read_meta", "functions.store_commit.read_meta"),
    (
        "spark_indexedrdd_spark.functions.store_commit",
        "resolve_serve_meta",
        "functions.store_commit.resolve_serve_meta",
    ),
    ("spark_indexedrdd_spark.functions.store_commit", "commit_meta", "functions.store_commit.commit_meta"),
    ("spark_indexedrdd_spark.functions.store_commit", "vacuum_store", "functions.store_commit.vacuum_store"),
    (
        "spark_indexedrdd_spark.functions.store_commit",
        "list_parquet_files",
        "functions.store_commit.list_parquet_files",
    ),
    (
        "spark_indexedrdd_spark.functions.retrieval",
        "write_postings_store",
        "functions.retrieval.write_postings_store",
    ),
    (
        "spark_indexedrdd_spark.functions.retrieval",
        "append_postings_batch",
        "functions.retrieval.append_postings_batch",
    ),
    ("spark_indexedrdd_spark.functions.retrieval", "bm25_from_store", "functions.retrieval.bm25_from_store"),
    (
        "spark_indexedrdd_spark.functions.retrieval",
        "bm25_rm3_from_store",
        "functions.retrieval.bm25_rm3_from_store",
    ),
    (
        "spark_indexedrdd_spark.functions.retrieval",
        "delete_postings_docs",
        "functions.retrieval.delete_postings_docs",
    ),
    (
        "spark_indexedrdd_spark.functions.retrieval",
        "optimize_postings_store",
        "functions.retrieval.optimize_postings_store",
    ),
    ("spark_indexedrdd_spark.functions.retrieval", "bm25_topk", "functions.retrieval.bm25_topk"),
]

LAYERS = [
    "session",
    "sources.tables",
    "core",
    "operators.point",
    "hashing",
    "sources.versioned",
    "functions.store_commit",
    "functions.retrieval",
    "spark",
    "bench",
]


def layer_of(name: str) -> str:
    if name.startswith("spark."):
        return "spark"
    if name.startswith("op."):
        return "bench"
    return name.rsplit(".", 1)[0]


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    plain pass-through, so untraced runs share the code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op, info]
        self._stack: list[int] = []
        self._op: int | None = None
        self._sc = None
        self._patched: list[tuple] = []

    # -- spans ------------------------------------------------------- #

    def begin(self, name: str, op: "int | None" = None) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.time(), None, parent, self._op if op is None else op, None])
        self._stack.append(idx)
        return idx

    def end(self, idx: int, info=None) -> None:
        self.spans[idx][2] = time.time()
        self.spans[idx][5] = info
        self._stack.pop()

    def start_op(self, op: int, kind: str, sc=None) -> "int | None":
        """Open the root span of benchmark operation ``op`` and tag the
        Spark jobs it runs with the job group ``op-<op>``. Set-up
        repetitions are operations -1, -2, ..."""
        if not self.enabled:
            return None
        self._op = op
        self._sc = sc
        if sc is not None:
            sc.setJobGroup(f"op-{op}", kind)
        return self.begin(f"op.{kind}", op)

    def finish_op(self, idx: "int | None") -> None:
        if idx is None:
            return
        self.end(idx)
        self._op = None
        if self._sc is not None:
            # later jobs (bookkeeping, checks) belong to no operation
            self._sc.setJobGroup("idle", "")

    # -- wrapping the layers ---------------------------------------- #

    def install(self) -> None:
        if not self.enabled:
            return
        for mod_name, attr, span in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls_name, leaf = attr.split(".")
                owner = getattr(mod, cls_name)
            raw = owner.__dict__[leaf]
            is_cm = isinstance(raw, classmethod)
            fn = raw.__func__ if is_cm else raw
            wrapped = self._wrap(span, fn)
            setattr(owner, leaf, classmethod(wrapped) if is_cm else wrapped)
            self._patched.append((owner, leaf, raw))

    def uninstall(self) -> None:
        for owner, leaf, raw in reversed(self._patched):
            setattr(owner, leaf, raw)
        self._patched.clear()

    def _wrap(self, span: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(span)
            info = None
            try:
                out = fn(*args, **kwargs)
                if span == "hashing.route":
                    # (keys routed, partitions targeted, partition count)
                    info = (sum(len(v) for v in out.values()), len(out), args[0].n)
                return out
            finally:
                tracer.end(idx, info)

        return wrapper

    # -- Spark status store ------------------------------------------ #

    def attach_spark(self, sc) -> dict:
        """Read every job and stage the status store retained, add each
        tagged job as a ``spark.job`` span, and return per-op Spark
        counters: ``{op: {"jobs", "stages", "tasks", "failed_tasks",
        "executor_run_ms", "input_bytes", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes"}}``."""
        jobs, stages = read_status_store(sc)
        per_op: dict = defaultdict(lambda: defaultdict(float))
        by_op: dict = defaultdict(list)
        for idx, s in enumerate(self.spans):
            if s[4] is not None:
                by_op[s[4]].append(idx)
        for j in jobs:
            group = j["group"]
            if not group or not group.startswith("op-") or j["start"] is None:
                continue
            op = int(group[3:])
            c = per_op[op]
            c["jobs"] += 1
            for sid in j["stage_ids"]:
                st = stages.get(sid)
                if st is None or st["status"] == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st["tasks"]
                c["failed_tasks"] += st["failed_tasks"]
                c["executor_run_ms"] += st["executor_run_ms"]
                c["input_bytes"] += st["input_bytes"]
                c["shuffle_read_bytes"] += st["shuffle_read_bytes"]
                c["shuffle_write_bytes"] += st["shuffle_write_bytes"]
                c["spill_bytes"] += st["spill_bytes"]
            # innermost span of this op open at submission
            start, end = j["start"], j["end"] if j["end"] is not None else j["start"]
            parent = None
            for idx in by_op.get(op, []):
                s = self.spans[idx]
                if s[1] <= start + 0.002 and (s[2] is None or s[2] >= start):
                    if parent is None or s[1] >= self.spans[parent][1]:
                        parent = idx
            self.spans.append(["spark.job", start, end, parent, op, j["id"]])
        return per_op

    def self_times(self, ops: "set[int] | None" = None) -> dict:
        """Self time in seconds per layer, summed over the spans of
        ``ops`` (all spans if None)."""
        children: dict = defaultdict(list)
        for idx, s in enumerate(self.spans):
            if s[3] is not None:
                children[s[3]].append(idx)
        out: dict = defaultdict(float)
        for idx, s in enumerate(self.spans):
            if s[2] is None or (ops is not None and s[4] not in ops):
                continue
            covered = union_length(
                [
                    (max(self.spans[c][1], s[1]), min(self.spans[c][2], s[2]))
                    for c in children.get(idx, [])
                    if self.spans[c][2] is not None
                ]
            )
            out[layer_of(s[0])] += max(0.0, (s[2] - s[1]) - covered)
        return dict(out)

    def durations(self, name: str, ops: "set[int] | None" = None) -> list[float]:
        return [
            s[2] - s[1]
            for s in self.spans
            if s[0] == name and s[2] is not None and (ops is None or s[4] in ops)
        ]

    def infos(self, name: str, ops: "set[int] | None" = None) -> list:
        return [
            s[5]
            for s in self.spans
            if s[0] == name and s[5] is not None and (ops is None or s[4] in ops)
        ]

    def job_union(self, op: int, lo: float, hi: float) -> float:
        return union_length(
            [
                (max(s[1], lo), min(s[2], hi))
                for s in self.spans
                if s[0] == "spark.job" and s[4] == op
            ]
        )


def union_length(intervals: list) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _iter_seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> "float | None":
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(sc) -> tuple[list, dict]:
    """Jobs and stages from the driver's ``AppStatusStore``.

    This is a private Spark API: ``statusStore().jobsList(java.util.List)``
    and the five-argument ``stageList(statuses, details, withSummaries,
    unsortedQuantiles, taskStatus)`` of PySpark 4.1. The benchmark's
    smoke test pins both shapes, so an upgrade that changes them fails
    there first."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _iter_seq(store.jobsList(jvm.java.util.ArrayList())):
        g = j.jobGroup()
        jobs.append(
            {
                "id": j.jobId(),
                "group": g.get() if g.isDefined() else None,
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "stage_ids": list(_iter_seq(j.stageIds())),
            }
        )
    stages = {}
    stage_seq = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    for s in _iter_seq(stage_seq):
        st = stages.setdefault(
            s.stageId(),
            {
                "status": "SKIPPED",
                "tasks": 0,
                "failed_tasks": 0,
                "executor_run_ms": 0,
                "input_bytes": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            },
        )
        status = str(s.status())
        if status == "SKIPPED":
            continue
        # one record per attempt: sum the attempts of a retried stage
        st["status"] = status
        st["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        st["failed_tasks"] += s.numFailedTasks()
        st["executor_run_ms"] += s.executorRunTime()
        st["input_bytes"] += s.inputBytes()
        st["shuffle_read_bytes"] += s.shuffleReadBytes()
        st["shuffle_write_bytes"] += s.shuffleWriteBytes()
        st["spill_bytes"] += s.diskBytesSpilled()
    return jobs, stages
