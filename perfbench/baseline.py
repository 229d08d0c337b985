"""Repeat the benchmark over several seeds and summarize its spread.

    python3 perfbench/baseline.py --seeds 10 --workloads point_serve kv_ingest_read \\
        --trace 0 1 --out baseline.json

Runs ``run.py`` once per (workload, trace mode, seed), one run at a time,
with seeds 1..N, ``BENCHMARK.json``'s ``run_seconds`` and sf0.1, and writes every run's report plus, per workload and metric, the median
and the spread (distance between the first and third quartile as a share
of the median, from ``statistics.quantiles(values, n=4)``). With both
trace modes it also reports the tracing overhead: the traced run's
end-to-end medians minus the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
SECONDS = BENCH["run_seconds"]
SF = 0.1


def one_run(workload: str, seed: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
        "--seconds", str(SECONDS), "--trace", str(trace), "--sf", str(SF),
    ]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900, check=True).stdout
    lines = out.strip().splitlines()
    report = next(json.loads(ln[2:]) for ln in lines if ln.startswith("# {"))
    report["result"] = json.loads(lines[-1])
    report["run_wall_s"] = time.perf_counter() - t0
    return report


def spread(values: list) -> dict:
    """Median and quartile spread of the sampled values (None = the run
    held no such operation)."""
    values = [v for v in values if v is not None]
    if len(values) < 2:
        return {"median": values[0] if values else None, "q1": None, "q3": None, "spread": None}
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in BENCH["workloads"]])
    p.add_argument("--trace", nargs="+", type=int, default=[0])
    p.add_argument("--out", required=True)
    p.add_argument("--markdown", help="also write the summary tables here")
    args = p.parse_args(argv)

    runs, summary = [], {}
    for wl in args.workloads:
        for trace in args.trace:
            reports = []
            for seed in range(1, args.seeds + 1):
                r = one_run(wl, seed, trace)
                reports.append(r)
                res = r["result"]
                print(f"{wl} trace={trace} seed={seed} wall={r['run_wall_s']:.1f}s "
                      f"correct={res['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                                 if not k.startswith("self.")), flush=True)
            runs.extend(reports)
            key = f"{wl}/trace{trace}"
            names = {m: reports[0]["result"]["metrics"][m]["unit"] for m in reports[0]["result"]["metrics"]}
            summary[key] = {
                m: dict(spread([r["result"]["metrics"][m]["value"] for r in reports]), unit=u)
                for m, u in names.items()
            }
            summary[key]["all_correct"] = all(r["result"]["correct"] for r in reports)
            if trace:
                e2e = [r["end_to_end"] for r in reports]
                summary[key]["traced_end_to_end"] = {
                    m: spread([e[m]["value"] for e in e2e])["median"] for m in e2e[0]
                }
        if 0 in args.trace and 1 in args.trace:
            plain = summary[f"{wl}/trace0"]
            traced = summary[f"{wl}/trace1"]["traced_end_to_end"]
            summary[f"{wl}/tracing_overhead"] = {
                m: {"traced": traced[m], "untraced": plain[m]["median"],
                    "difference": traced[m] - plain[m]["median"]}
                for m in traced
                if m in plain and traced[m] is not None
            }
        with open(args.out, "w") as fh:  # after each workload: a crash keeps what ran
            json.dump({"summary": summary, "runs": runs}, fh, indent=1, sort_keys=True)
    if args.markdown:
        with open(args.markdown, "w") as fh:
            fh.write(markdown(summary, runs, args))
    for key, metrics in summary.items():
        if key.endswith("/trace0"):
            for m, s in metrics.items():
                if isinstance(s, dict) and s.get("spread") is not None:
                    print(f"{key:<30} {m:<16} median={s['median']:.4g} spread={s['spread']:.3f}")
    return 0


def markdown(summary: dict, runs: list, args) -> str:
    env = runs[0]
    out = [
        f"Seeds 1..{args.seeds}, {SECONDS} s per run, sf{SF}, local[{env['cores']}], "
        f"PySpark {env['pyspark']}; one run at a time.",
        "",
    ]
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    e2e = [k for k in summary if k.endswith("/trace0")]
    if e2e:
        out += ["| workload | metric | unit | median | q1 | q3 | spread | bound |",
                "|---|---|---|---|---|---|---|---|"]
        for key in e2e:
            for m, s in summary[key].items():
                if isinstance(s, dict):
                    out.append(f"| {key.split('/')[0]} | {m} | {s['unit']} | {s['median']:.4g} | "
                               f"{s['q1']:.4g} | {s['q3']:.4g} | {s['spread']:.3f} | {bounds[m]} |")
        out.append("")
    plain = [r for r in runs if r["trace"] == 0]
    if plain:
        out += ["End-to-end metrics printed but not gated, over the same untraced runs "
                "(`n` is the median sample count of a run):", "",
                "| workload | metric | unit | median | n | spread |", "|---|---|---|---|---|---|"]
        for wl in dict.fromkeys(r["workload"] for r in plain):
            reps = [r for r in plain if r["workload"] == wl]
            for m, e in reps[0]["end_to_end"].items():
                s = spread([r["end_to_end"][m]["value"] for r in reps])
                if e["gated"] or s["median"] is None:
                    continue
                n = statistics.median(r["end_to_end"][m]["samples"] for r in reps)
                sp = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
                out.append(f"| {wl} | {m} | {e['unit']} | {s['median']:.4g} | {n:g} | {sp} |")
        out.append("")
    traced = [k for k in summary if k.endswith("/trace1")]
    if traced:
        names = [k.split("/")[0] for k in traced]
        out += ["Per-layer metrics, median over the traced runs:", "",
                "| metric | unit | " + " | ".join(names) + " |",
                "|---|---|" + "---|" * len(names)]
        for m in BENCH["per_layer"]:
            vals = [summary[k][m["name"]]["median"] for k in traced]
            out.append(f"| {m['name']} | {m['unit']} | " + " | ".join(f"{v:.4g}" for v in vals) + " |")
        out.append("")
    over = [k for k in summary if k.endswith("/tracing_overhead")]
    if over:
        out += ["Tracing overhead: traced minus untraced end-to-end medians.", "",
                "| workload | metric | untraced | traced | difference |", "|---|---|---|---|---|"]
        for key in over:
            for m, d in summary[key].items():
                out.append(f"| {key.split('/')[0]} | {m} | {d['untraced']:.4g} | "
                           f"{d['traced']:.4g} | {d['difference']:+.4g} |")
        out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    sys.exit(main())
