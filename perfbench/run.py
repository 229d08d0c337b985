"""Benchmark of the KV engine's three kinds of traffic.

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 16 --trace 0

Workloads (see ``workloads.py``): ``point_serve``, ``kv_ingest_read`` and
``postings_ingest_serve``. Each run generates its tables from ``--seed``,
sets the workload up once untimed, which launches the JVM, and then
several times more (the median of those is ``setup_s``), then
drives a closed loop — one client thread, the next call issued when the
previous one returns — for ``--seconds`` on ``local[N]`` with
N = ``$SPARK_GRAFT_CPUS`` or the number of usable cores; the window runs
on past ``--seconds`` only until every kind of operation in the
workload's mix has run in it. After the timed window every recorded
result is checked against an independent model.

With ``--trace 0`` the last line of standard output is the JSON result
with the end-to-end metrics; with ``--trace 1`` the calls into each layer
are recorded as spans and the result carries the per-layer metrics. The
lines before it are a report: the environment, every end-to-end metric of
the workload with its sample count, and in a traced run the self time of
each layer.

Everything the run writes goes to ``.perfbench_run/`` under the current
directory and is removed at the end. ``--sf`` scales the tables (0.1 by
default; the smoke test uses 0.001).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# how long the window may run past --seconds for a kind of operation the
# mix holds but the window has not yet run
MAX_OVERRUN_S = 30.0

# The gated end-to-end metrics. Every other end-to-end metric is printed
# but not gated: the scans' medians, of 1 to 7 samples a run of
# operations that fan out over every core, move with a shared host's
# load by more than a 25% bound; ops_per_s weighs the scans in.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
}
# a tail needs ten samples above it and must lie above the median
TAIL_MIN_SAMPLES = 21


def fail(msg: str) -> "None":
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def percentile_tail(xs: list) -> tuple:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it. With fewer than ``TAIL_MIN_SAMPLES`` samples that
    percentile would not lie above the median: value and percentile are
    None."""
    xs = sorted(xs)
    n = len(xs)
    if n < TAIL_MIN_SAMPLES:
        return None, None, n
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1)
    return p.parse_args(argv)


def start_session(run_dir: str, cpus: int):
    from spark_indexedrdd_spark import session

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return session.get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.memory": "3g",
            # keep every job and stage of a run for the traced read-out
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    import numpy as np

    import datagen
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cpus = cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    run_dir = os.path.join(os.getcwd(), ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = run_dir
    # a SPARK_LOCAL_DIRS from the caller would win over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # files in the run directory and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}"
    import tempfile

    tempfile.tempdir = run_dir
    spark = None
    phases = {"start": time.perf_counter()}
    try:
        info = datagen.generate(os.path.join(run_dir, "data"), args.sf, args.seed)
        rng = np.random.default_rng(args.seed + 1)
        wl = WORKLOADS[args.workload](
            os.path.join(run_dir, "data"),
            os.path.join(run_dir, "work"),
            info,
            rng,
            bool(args.trace),
            sf=args.sf,
        )
        tracer = spans.Tracer(bool(args.trace))
        tracer.install()
        phases["datagen"] = time.perf_counter()

        # -- set-up: once untimed, which launches the JVM and pays the
        # first use of every class, then SETUP_REPS timed repetitions;
        # the last one is served -------------------------------------- #
        setup_s, index_build_s = [], []
        for rep in range(SETUP_REPS + 1):
            if spark is not None:
                spark.stop()
                wl.teardown_setup(rep - 1)
            root = tracer.start_op(-rep, "setup") if rep else None
            t0 = time.perf_counter()
            spark = start_session(run_dir, cpus)
            wl.setup(spark, rep)
            dt = time.perf_counter() - t0
            tracer.finish_op(root)
            if rep:
                setup_s.append(dt)
                index_build_s.append(wl.index_build_s)
        sc = spark.sparkContext
        phases["setup"] = time.perf_counter()

        # -- closed loop: untimed warm-up, then the timed window ----- #
        lat: dict = {}
        ops_done = failed = 0
        errors: list = []
        pending: list = []

        def issue(op, op_id):
            """Run one operation; (ok, seconds). Results go to ``after``."""
            root = tracer.start_op(op_id, op.kind, sc)
            t0 = time.perf_counter()
            try:
                res = op.fn()
            except Exception as e:  # a failed operation is counted, not fatal
                errors.append(f"{op.kind}: {type(e).__name__}: {e}")
                return False, time.perf_counter() - t0
            finally:
                t1 = time.perf_counter()
                tracer.finish_op(root)
            if op.after is not None:
                op.after(res)
            return True, t1 - t0

        for i in range(wl.warmup_ops):
            if not pending:
                pending = wl.next_ops()
            ok, _ = issue(pending.pop(0), -100 - i)
            failed += not ok
        warmup_failed = failed
        phases["warmup"] = t_start = time.perf_counter()
        # the window lasts --seconds and then, if need be, until every
        # kind of the workload's mix has run in it (ops_per_s needs a
        # median of each)
        deadline = t_start + args.seconds
        hard_stop = deadline + MAX_OVERRUN_S
        op_id = 0
        while True:
            now = time.perf_counter()
            if now >= hard_stop or (now >= deadline and all(k in lat for k in wl.MIX)):
                break
            if not pending:
                pending = wl.next_ops()
            op = pending.pop(0)
            ok, dt = issue(op, op_id)
            ops_done += 1
            op_id += 1
            if ok:
                lat.setdefault(op.op_class, []).append(dt * 1000.0)
                lat.setdefault(op.kind, []).append(dt * 1000.0)
            else:
                failed += 1
        wall = time.perf_counter() - t_start
        phases["window"] = time.perf_counter()

        # -- correctness, outside the timed window ------------------ #
        wrong = wl.check(spark)
        per_op = tracer.attach_spark(sc) if tracer.enabled else {}
        tracer.uninstall()
        phases["check"] = time.perf_counter()
        names = list(phases)
        report = {
            "phase_s": {b: phases[b] - phases[a] for a, b in zip(names, names[1:])},
            "workload": args.workload,
            "seed": args.seed,
            "sf": args.sf,
            "cores": cpus,
            "pyspark": __import__("pyspark").__version__,
            "seconds": args.seconds,
            "window_s": wall,
            "trace": args.trace,
            "setup_reps_s": setup_s,
            "rows": {k: info[k] for k in ("orders", "lineitem", "documents")},
            "ops": ops_done,
            "warmup_ops": wl.warmup_ops,
            "failed_ops": failed,
            "failed_warmup_ops": warmup_failed,
            "wrong_results": wrong,
            "checked_results": len(wl.samples),
            "errors": errors[:5],
        }
        report["error_rate"] = (failed + wrong) / max(1, ops_done + wl.warmup_ops)
        report["end_to_end"] = end_to_end(
            setup_s, index_build_s, lat, wl.MIX, report["error_rate"], ops_done + wl.warmup_ops
        )
        report["latency_by_kind_p50_ms"] = {
            k: {"p50": statistics.median(v), "n": len(v)}
            for k, v in lat.items()
            if k not in ("read", "write", "scan", "compact")
        }
        if args.trace:
            import layers

            report["per_layer"], report["self_ms_per_op"] = layers.per_layer(
                tracer, per_op, wl, ops_done
            )
        return report
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def mix_ops_per_s(mix: dict, lat: dict) -> "float | None":
    """Operations per second of the workload's operation mix (kind ->
    count per period) when each operation takes its kind's median latency
    in the window. One client runs the loop, so this is its throughput;
    medians keep a slow burst of the host, or where the window cuts the
    period, from moving it. None when a kind of the mix has no sample."""
    if any(k not in lat for k in mix):
        return None
    period_ms = sum(n * statistics.median(lat[k]) for k, n in mix.items())
    return 1000.0 * sum(mix.values()) / period_ms


def end_to_end(setup_s, index_build_s, lat, mix, error_rate, attempted) -> dict:
    """Every end-to-end metric of the run: the ones ``END_TO_END`` gates,
    plus ``scan_p50_ms``, ``read_tail_ms``, ``write_tail_ms``, ``index_build_s``,
    ``compact_p50_ms``, ``multiget_1k_p50_ms`` and ``error_rate``, which
    are reported only (value None when the window held no such operation,
    or too few for a tail)."""

    def p50(xs):
        return statistics.median(xs) if xs else None

    out = {
        "setup_s": {"value": statistics.median(setup_s), "samples": len(setup_s)},
        "index_build_s": {"value": statistics.median(index_build_s), "samples": len(index_build_s)},
        "ops_per_s": {
            "value": mix_ops_per_s(mix, lat),
            "samples": sum(len(lat.get(k, [])) for k in mix),
        },
        "error_rate": {"value": error_rate, "samples": attempted},
        "compact_p50_ms": {"value": p50(lat.get("compact")), "samples": len(lat.get("compact", []))},
        "multiget_1k_p50_ms": {
            "value": p50(lat.get("multiget1000_range")),
            "samples": len(lat.get("multiget1000_range", [])),
        },
    }
    for cls in ("read", "write", "scan"):
        xs = lat.get(cls, [])
        out[f"{cls}_p50_ms"] = {"value": p50(xs), "samples": len(xs)}
        if cls != "scan":
            v, pct, n = percentile_tail(xs)
            out[f"{cls}_tail_ms"] = {"value": v, "percentile": pct, "samples": n}
    units = dict(END_TO_END, scan_p50_ms="ms", read_tail_ms="ms", write_tail_ms="ms",
                 index_build_s="s", error_rate="ratio", compact_p50_ms="ms",
                 multiget_1k_p50_ms="ms")
    for name, m in out.items():
        m["unit"] = units[name]
        m["gated"] = name in END_TO_END
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # the library is built from the checkout's own source, never from
    # whatever else the interpreter could find
    if not os.path.isfile(os.path.join(ROOT, "spark_indexedrdd_spark", "__init__.py")):
        fail(f"no spark_indexedrdd_spark package in {ROOT}")
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import spark_indexedrdd_spark  # noqa: F401
    except ImportError as e:
        fail(f"the library is not importable from {ROOT}: {e}")
    report = run(args)
    print("# " + json.dumps(report, sort_keys=True))
    e2e = report["end_to_end"]
    head = f"# {report['workload']} seed={report['seed']} sf={report['sf']} cores={report['cores']}"
    print(f"{head} pyspark={report['pyspark']} seconds={report['seconds']} trace={report['trace']}")
    for name, m in e2e.items():
        value = "n/a" if m["value"] is None else f"{m['value']:.4f}"
        pct = f" at p{m['percentile']:.1f}" if m.get("percentile") else ""
        if name.endswith("_tail_ms") and m["value"] is None:
            pct = f" (fewer than {TAIL_MIN_SAMPLES} samples: no tail above the median)"
        gate = "" if m["gated"] else "  (reported, not gated)"
        print(f"#   {name:<20} {value:>12} {m['unit']:<5} n={m['samples']}{pct}{gate}")
    if args.trace:
        for layer, v in sorted(report["self_ms_per_op"].items(), key=lambda kv: -kv[1]):
            print(f"#   self time {layer:<24} {v:>10.3f} ms/op")
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in report["per_layer"].items()}
    else:
        # a gated metric the window did not sample fails the run loudly
        metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]} for k in END_TO_END}
        missing = [k for k, m in metrics.items() if not m["value"]]
        if missing:
            fail(f"no samples for {missing}; run longer (--seconds)")
    bad = report["failed_ops"] + report["wrong_results"]
    print(
        json.dumps(
            {
                "correct": bad == 0,
                "attempted": report["ops"] + report["warmup_ops"],
                "failed": bad,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
