"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Runs each workload at ``--scale toy`` (seed 1, whose toy digests are
recorded in digests.json), traced and untraced, and asserts that:

- every end-to-end and per-layer metric in BENCHMARK.json is emitted,
  with its unit, and nothing else;
- the unperturbed runs are correct (``failed`` 0);
- a run whose warm-pass output is deliberately corrupted (``--perturb``)
  reports failed operations and ``correct: false``;
- on a seed with no recorded digests, a query_mix output corrupted the
  same way in every pass is caught by the DuckDB oracle check;
- in a directory holding only BENCHMARK.json and the benchmark, the
  command exits non-zero without printing a result.
Takes about five minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 1
UNRECORDED_SEED = 2
PERTURB = {"taq_corr": "panel", "query_mix": "q52_dup_groups"}


def run(bench: dict, workload: str, trace: int, *extra: str, cwd: str = ROOT, seed: int = SEED):
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, wanted: list[dict], label: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, (label, sorted(res))
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in wanted}
    assert got == want, (label, sorted(set(got) ^ set(want)))
    assert all(isinstance(v["value"], float) for v in res["metrics"].values()), label
    assert res["attempted"] >= 1, label


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        traced = result_of(run(bench, w, 1, "--scale", "toy"))
        check_metrics(traced, bench["per_layer"], f"{w} traced")
        assert traced["correct"] and traced["failed"] == 0, (w, traced)
        assert traced["metrics"]["fail_frac"]["value"] == 0.0, w
        print(f"ok {w}: traced run correct, {len(traced['metrics'])} per-layer metrics")

        bad = result_of(run(bench, w, 0, "--scale", "toy", "--perturb", PERTURB[w]))
        check_metrics(bad, bench["end_to_end"], f"{w} untraced")
        assert not bad["correct"] and bad["failed"] > 0, (w, bad)
        print(f"ok {w}: perturbed output caught ({bad['failed']}/{bad['attempted']} failed)")

    if "query_mix" in (w["name"] for w in bench["workloads"]):
        q = PERTURB["query_mix"]
        bad = result_of(run(bench, "query_mix", 0, "--scale", "toy", "--perturb", q,
                            "--perturb-all-passes", seed=UNRECORDED_SEED))
        assert not bad["correct"] and bad["failed"] > 0, bad
        print(f"ok query_mix: output wrong in every pass caught on an unrecorded seed "
              f"({bad['failed']}/{bad['attempted']} failed)")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(bench, bench["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0 and not proc.stdout.strip(), (proc.returncode, proc.stdout)
    print("ok: without the package the command exits", proc.returncode, "and prints no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
