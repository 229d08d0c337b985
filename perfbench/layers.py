"""Per-layer metrics of a traced run.

Each metric is computed from the spans (``spans.Tracer``), the Spark
status store's per-operation counters, and the counters a workload keeps
beside its model. A layer a workload does not exercise reports 0.

Which end-to-end metric each layer metric should move, on which workload
(``[all]`` = every workload). ``scan_p50_ms``, ``multiget_1k_p50_ms``,
``compact_p50_ms`` and ``index_build_s`` are printed but not gated; the
gated ``ops_per_s`` of the same workload weighs in the operations they
time.

    session.start_s, tables.load_s, core.cache_materialize_s -> setup_s [all]
    core.multiget_isin_ms, core.multiget_index_ms,
        core.multiget_overlay_ms                         -> read_p50_ms [point_serve]
    core.overlay_answered_share                          -> write_p50_ms [point_serve]
    point.build_s                                        -> index_build_s [point_serve]
    point.partitions_touched_share, hashing.route_us_per_key
                                                         -> multiget_1k_p50_ms [point_serve]
    spark.jobs_per_op, spark.stages_per_op, spark.tasks_per_op
                                     -> read_p50_ms [point_serve], ops_per_s [all]
    spark.driver_ms_per_op           -> read_p50_ms, multiget_1k_p50_ms [point_serve]
    spark.executor_run_ms_per_op     -> scan_p50_ms [kv_ingest_read, postings_ingest_serve]
    spark.shuffle_read_bytes_per_op, spark.shuffle_write_bytes_per_op,
        spark.spill_bytes                                -> scan_p50_ms [kv_ingest_read]
    spark.input_bytes_per_op         -> read_p50_ms [postings_ingest_serve] (bucket
                                        pruning), scan_p50_ms [kv_ingest_read] (fold re-reads)
    spark.failed_tasks                                   -> error rate [all]
    versioned.fold_chain_len         -> read_p50_ms, scan_p50_ms [kv_ingest_read]
    versioned.bytes_written_per_key                      -> write_p50_ms [kv_ingest_read]
    versioned.space_amp              -> none; shows a read gain paid for in space
    store_commit.read_meta_ms, store_commit.files_live_share
                                                 -> read_p50_ms [postings_ingest_serve]
    store_commit.vacuum_reclaimed_files, store.space_amp
                                                 -> the compactions inside ops_per_s
                                                    [postings_ingest_serve]
    retrieval.rm3_jobs, retrieval.rm3_input_bytes -> scan_p50_ms [postings_ingest_serve]
    self.<layer>_ms_per_op           -> where each workload's time goes
"""

from __future__ import annotations

import statistics

from spans import LAYERS, layer_of

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "tables.load_s": ("s", "lower"),
    "core.cache_materialize_s": ("s", "lower"),
    "core.multiget_isin_ms": ("ms", "lower"),
    "core.multiget_index_ms": ("ms", "lower"),
    "core.multiget_overlay_ms": ("ms", "lower"),
    "core.overlay_answered_share": ("share", "higher"),
    "point.build_s": ("s", "lower"),
    "point.partitions_touched_share": ("share", "lower"),
    "hashing.route_us_per_key": ("us/key", "lower"),
    "spark.jobs_per_op": ("jobs/op", "lower"),
    "spark.stages_per_op": ("stages/op", "lower"),
    "spark.tasks_per_op": ("tasks/op", "lower"),
    "spark.driver_ms_per_op": ("ms/op", "lower"),
    "spark.executor_run_ms_per_op": ("ms/op", "lower"),
    "spark.input_bytes_per_op": ("B/op", "lower"),
    "spark.shuffle_read_bytes_per_op": ("B/op", "lower"),
    "spark.shuffle_write_bytes_per_op": ("B/op", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "versioned.fold_chain_len": ("deltas", "lower"),
    "versioned.bytes_written_per_key": ("B/key", "lower"),
    "versioned.space_amp": ("ratio", "lower"),
    "store_commit.read_meta_ms": ("ms", "lower"),
    "store_commit.files_live_share": ("share", "higher"),
    "store_commit.vacuum_reclaimed_files": ("count", "higher"),
    "store.space_amp": ("ratio", "lower"),
    "retrieval.rm3_jobs": ("jobs/op", "lower"),
    "retrieval.rm3_input_bytes": ("B/op", "lower"),
}
SELF_LAYERS = [layer for layer in LAYERS if layer not in ("session", "sources.tables")]
for _layer in SELF_LAYERS:
    PER_LAYER[f"self.{_layer}_ms_per_op"] = ("ms/op", "lower")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer, per_op: dict, wl, ops_done: int) -> tuple:
    """({metric: (value, unit)}, {layer: self ms per op})."""
    spans = tracer.spans
    timed = {s[4] for s in spans if s[4] is not None and s[4] >= 0}
    # set-up repetitions are operations -1, -2, ...; warm-up ones -100 and below
    setup_ops = sorted({s[4] for s in spans if s[4] is not None and -100 < s[4] < 0})
    n = max(1, ops_done)
    m: dict = {}

    # set-up: per repetition, then the median over repetitions
    def per_rep(pred) -> float:
        vals = []
        for op in setup_ops:
            vals.append(sum(s[2] - s[1] for s in spans if s[4] == op and s[2] is not None and pred(s)))
        return _median(vals)

    def outermost_tables(s) -> bool:
        parent = spans[s[3]] if s[3] is not None else None
        return layer_of(s[0]) == "sources.tables" and (
            parent is None or layer_of(parent[0]) != "sources.tables"
        )

    m["session.start_s"] = per_rep(lambda s: s[0] == "session.get_spark")
    m["tables.load_s"] = per_rep(outermost_tables)
    m["core.cache_materialize_s"] = per_rep(lambda s: s[0] == "core.count")
    m["point.build_s"] = per_rep(lambda s: s[0] == "operators.point.build")

    # core read paths: a top-level multiget is on the index path when it
    # calls the point index, on the overlay path when it recurses into
    # its parent version, else on the isin path
    children: dict = {}
    for idx, s in enumerate(spans):
        if s[3] is not None:
            children.setdefault(s[3], set()).add(s[0])
    paths = {"isin": [], "index": [], "overlay": []}
    for idx, s in enumerate(spans):
        if s[0] != "core.multiget" or s[4] not in timed or s[2] is None:
            continue
        parent = spans[s[3]] if s[3] is not None else None
        if parent is None or parent[0] == "core.multiget":
            continue  # nested: counted in its caller
        kids = children.get(idx, set())
        path = "index" if "operators.point.multiget" in kids else (
            "overlay" if "core.multiget" in kids else "isin"
        )
        paths[path].append((s[2] - s[1]) * 1000.0)
    for path, xs in paths.items():
        m[f"core.multiget_{path}_ms"] = _median(xs)
    c = wl.counters
    m["core.overlay_answered_share"] = c.get("overlay_keys", 0) / max(1, c.get("overlay_requested", 0))

    routes = tracer.infos("hashing.route", timed)
    m["point.partitions_touched_share"] = _mean([parts / nparts for _k, parts, nparts in routes])
    keys = sum(k for k, _p, _n in routes)
    m["hashing.route_us_per_key"] = (
        sum(tracer.durations("hashing.route", timed)) * 1e6 / keys if keys else 0.0
    )

    # Spark, per timed operation
    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
                            "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                            "spill_bytes")}
    for op in timed:
        for k in tot:
            tot[k] += per_op.get(op, {}).get(k, 0.0)
    m["spark.jobs_per_op"] = tot["jobs"] / n
    m["spark.stages_per_op"] = tot["stages"] / n
    m["spark.tasks_per_op"] = tot["tasks"] / n
    m["spark.executor_run_ms_per_op"] = tot["executor_run_ms"] / n
    m["spark.input_bytes_per_op"] = tot["input_bytes"] / n
    m["spark.shuffle_read_bytes_per_op"] = tot["shuffle_read_bytes"] / n
    m["spark.shuffle_write_bytes_per_op"] = tot["shuffle_write_bytes"] / n
    m["spark.spill_bytes"] = tot["spill_bytes"]
    m["spark.failed_tasks"] = tot["failed_tasks"]
    driver = 0.0
    for s in spans:
        if s[0].startswith("op.") and s[4] in timed and s[2] is not None:
            driver += (s[2] - s[1]) - tracer.job_union(s[4], s[1], s[2])
    m["spark.driver_ms_per_op"] = driver * 1000.0 / n

    # versioned store
    m["versioned.fold_chain_len"] = c.get("fold_deltas", 0) / max(1, c.get("fold_reads", 0))
    m["versioned.bytes_written_per_key"] = c.get("written_bytes", 0) / max(1, c.get("committed_keys", 0))
    m["versioned.space_amp"] = wl.space_amp() if hasattr(wl, "space_amp") else 0.0

    # store commit machine and retrieval
    m["store_commit.read_meta_ms"] = _median(
        [d * 1000.0 for d in tracer.durations("functions.store_commit.read_meta", timed)]
    )
    m["store_commit.files_live_share"] = _mean(c.get("files_live_share", []))
    m["store_commit.vacuum_reclaimed_files"] = c.get("vacuum_reclaimed_files", 0)
    m["store.space_amp"] = _mean(c.get("space_amp", []))
    rm3_ops = {s[4] for s in spans if s[0] == "op.bm25_rm3" and s[4] in timed}
    m["retrieval.rm3_jobs"] = _mean([per_op.get(op, {}).get("jobs", 0.0) for op in rm3_ops])
    m["retrieval.rm3_input_bytes"] = _mean(
        [per_op.get(op, {}).get("input_bytes", 0.0) for op in rm3_ops]
    )

    self_s = tracer.self_times(timed)
    self_ms = {layer: self_s.get(layer, 0.0) * 1000.0 / n for layer in SELF_LAYERS}
    for layer, v in self_ms.items():
        m[f"self.{layer}_ms_per_op"] = v
    return {k: (float(v), PER_LAYER[k][0]) for k, v in m.items()}, self_ms
