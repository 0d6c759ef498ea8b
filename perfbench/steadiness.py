"""Repeat the benchmark over seeds and record how steady each metric is.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads taq_corr,query_mix]
        [--traced-seed 1] [--record-digests] [--out perfbench/STEADINESS.json]

For each workload it runs ``run.py`` once per seed (untraced), then
reports per end-to-end metric the median and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``)
as a share of the median.  A metric is steady when its spread is below
a third of its bound in BENCHMARK.json.  With ``--traced-seed`` it also
makes one traced run per workload and reports the tracing overhead
(traced ``warm_s`` minus the untraced median), the traced pass's
coverage, and its split into plan building, execution and sinks, with
the share of the cores busy and the task count of each stage.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int, *extra: str) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace), *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def traced_entry(bench: dict, workload: str, seed: int, untraced_warm_s: float) -> dict:
    """One traced run: tracing overhead, coverage, and where the warm
    pass's wall goes (plan building against execution, core use, tasks
    per stage), read from the run's record in ``.perfbench_out``."""
    t = run_once(bench, workload, seed, 1)["metrics"]
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace1.json")) as f:
        warm = json.load(f)["per_pass_layers"]
    value = {k: t[k]["value"] for k in (
        "trace.warm_s", "trace.coverage", "plans.build_s", "operators.exec_s",
        "sinks.write_s", "operators.core_busy_frac", "operators.tasks")}
    return {
        "seed": seed,
        "trace_overhead_s": value["trace.warm_s"] - untraced_warm_s,
        "coverage": value["trace.coverage"],
        "warm_layers": value,
        "warm_stage_tasks": [r["stats"]["stage_tasks"] for r in warm],
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--workloads", default=None)
    p.add_argument("--traced-seed", type=int, default=None)
    p.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    p.add_argument("--record-digests", action="store_true",
                   help="also store each correct seed's digests in digests.json")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]

    report = {"seeds": args.seeds, "run_seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    for w in names:
        runs = []
        for s in args.seeds:
            r = run_once(bench, w, s, 0, *(["--record-digests"] if args.record_digests else []))
            runs.append(r)
            print(f"{w} seed {s}: correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  file=sys.stderr)
        entry = {"correct": all(r["correct"] for r in runs),
                 "failed": sum(r["failed"] for r in runs), "metrics": {}}
        ok &= entry["correct"]
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            sp = spread(vals)
            steady = sp < bound / 3
            ok &= steady
            entry["metrics"][m] = {
                "median": statistics.median(vals), "spread": sp, "bound": bound,
                "steady": steady, "values": vals,
            }
        if args.traced_seed is not None:
            entry["traced"] = traced_entry(bench, w, args.traced_seed,
                                           entry["metrics"]["warm_s"]["median"])
        report["workloads"][w] = entry
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    for w, e in report["workloads"].items():
        for m, v in e["metrics"].items():
            flag = "" if v["steady"] else "  <-- spread over a third of the bound"
            print(f"{w:10s} {m:30s} median {v['median']:10.4g} spread {v['spread']:.4f} "
                  f"bound {v['bound']}{flag}")
        if "traced" in e:
            tr = e["traced"]
            print(f"{w:10s} tracing overhead {tr['trace_overhead_s']:+.3f} s, "
                  f"coverage {tr['coverage']:.3f}, warm layers "
                  + " ".join(f"{k}={v:.4g}" for k, v in tr["warm_layers"].items()))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
