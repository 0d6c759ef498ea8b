"""Benchmark entry point: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload taq_corr --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run starts a session on
``local[SPARK_GRAFT_CPUS or nproc]``, stages the workload's seeded
inputs three times (``setup_s`` = session start + median staging), runs
one cold pass, then warm passes until ``--seconds`` have gone by (at
least the workload's ``min_warm_passes``).  Every operation's output is checked; a mismatch or an
error counts as a failed operation.  A seed with no digests recorded in
``digests.json`` is also checked once more after the timed passes
(``query_mix``: against the DuckDB oracles).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` turns on Spark's event log and a job group per
span and reports the per-layer metrics instead.  Host conditions, the
per-pass record and (traced) the spans go to
``.perfbench_out/<workload>-seed<n>-trace<t>.json``.  Everything the run
writes stays under the checkout; the scratch tree
``.perfbench_work/<run>`` is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGE_REPS = 3
# Never start another warm pass past this point of the run, so a slow
# host still exits well inside the 180 s a run may take.
LAST_WARM_START_S = 110.0
# Both workloads' working sets are tens of MB; a capped heap keeps the
# JVM's footprint (and so peak_rss_mb) from following the GC's lazy
# growth toward the package's 8g default.
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "op_p50_s": "s",
    "op_p90_s": "s", "bytes_written_per_input_byte": "ratio", "peak_rss_mb": "MB",
}
HEAVY_QUERIES = (
    "q43_curation_report", "q52_dup_groups", "q60_incremental_lsh", "q66_gated_near_dup",
)


def per_layer_units() -> dict[str, str]:
    from query_mix import headline

    units = {
        "session.start_s": "s",
        "sources.resolve_s": "s", "sources.input_files": "count",
        "plans.build_s": "s", "plans.build_jobs": "count",
        "operators.exec_s": "s", "operators.exec_jobs": "count",
        "operators.tasks": "count", "operators.rows_out": "count",
        "operators.shuffle_write_bytes": "bytes", "operators.shuffle_read_bytes": "bytes",
        "operators.spill_bytes": "bytes", "operators.gc_s": "s",
        "operators.task_skew": "ratio", "operators.core_busy_frac": "ratio",
        "taq.universe_s": "s", "taq.resample_s": "s", "taq.corr_s": "s",
        "taq.export_s": "s", "taq.panel_rows": "count", "taq.corr_rows": "count",
        "caching.persisted_bytes": "bytes", "caching.cached_relations": "count",
        "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
        "trace.warm_s": "s", "trace.coverage": "ratio", "fail_frac": "ratio",
    }
    for q in headline():
        units[f"{q}.build_s"] = units[f"{q}.exec_s"] = "s"
    for q in HEAVY_QUERIES:
        units[f"{q}.jobs"] = "count"
    return units


class Context:
    def __init__(self, args, work_dir: str, tracer):
        self.seed, self.scale, self.perturb = args.seed, args.scale, args.perturb
        self.perturb_all = args.perturb_all_passes
        self.work_dir = work_dir
        self.input_dir = os.path.join(work_dir, "input")
        self.tmp_dir = os.path.join(work_dir, "tmp")
        self.tracer = tracer
        self.spark = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("taq_corr", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("default", "toy"), default="default")
    p.add_argument("--perturb", default=None,
                   help="corrupt one output in every warm pass (self-test of the checks)")
    p.add_argument("--perturb-all-passes", action="store_true",
                   help="corrupt it in the cold pass and the oracle check too")
    p.add_argument("--record-digests", action="store_true",
                   help="store this seed's cold-pass digests in digests.json")
    return p.parse_args(argv)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def storage_status(spark) -> tuple[int, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    persisted = sum(i.memSize() + i.diskSize() for i in infos)
    return persisted, sum(1 for i in infos if i.numCachedPartitions() > 0)


def start_session(work_dir: str, traced: bool):
    from wrds_data_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'jtmp')} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to end: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def install_read_spans(tracer) -> None:
    """Time every ``DataFrameReader.parquet`` call (relation resolution:
    listing + footer schema inference) as a ``sources.resolve`` span."""
    from pyspark.sql.readwriter import DataFrameReader

    original = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        with tracer.span("read.parquet", "sources.resolve"):
            return original(self, *paths, **options)

    DataFrameReader.parquet = parquet


def check_ops(passes: list[list[dict]], reference: dict | None) -> tuple[int, list[str]]:
    """Count failed operations: errors, broken invariants or oracle
    checks, and digests that differ from the recorded ones for this seed
    (or, for a seed with none recorded, from the cold pass)."""
    failed, notes = 0, []
    expected = dict(reference or {})
    for p, ops in enumerate(passes):
        for op in ops:
            why = op["error"] or "; ".join(op.get("problems") or [])
            if not why:
                want = expected.setdefault(op["name"], op["digest"])
                if want != op["digest"]:
                    why = f"digest {op['digest']} != {want}"
            if why:
                failed += 1
                notes.append(f"pass {p} {op['name']}: {why}")
    return failed, notes


def layer_metrics(tracer, pass_spans, jobs, tasks, cores) -> list[dict]:
    """Per-pass layer self times, jobs and task totals (warm passes)."""
    from tracing import GLUE_LAYERS, task_stats, union_length, wall

    rows = []
    for ps in pass_spans:
        spans = [ps] + tracer.descendants(ps["id"])
        ids = {s["id"] for s in spans}
        pjobs = {j_id: j for j_id, j in jobs.items() if j["span"] in ids}
        by_span: dict[int, list] = {}
        for j in pjobs.values():
            by_span.setdefault(j["span"], []).append(j)
        self_t: dict[str, float] = {}
        build_ids, exec_ids = set(), set()
        for s in spans:
            t = wall(s) - sum(wall(c) for c in tracer.children(s["id"]))
            layer = s["layer"]
            if layer == "sinks.write":
                run = union_length([
                    (max(j["start"], s["start"]), min(j["end"] or s["end"], s["end"]))
                    for j in by_span.get(s["id"], [])
                ])
                self_t["operators.exec"] = self_t.get("operators.exec", 0.0) + run
                t -= run
            self_t[layer] = self_t.get(layer, 0.0) + t
            if layer in ("plans.build",) or (
                layer == "sources.resolve" and tracer.spans[s["parent"]]["layer"] == "plans.build"
            ):
                build_ids.add(s["id"])
            if layer in ("operators.exec", "sinks.write"):
                exec_ids.add(s["id"])
        glue = sum(v for k, v in self_t.items() if k in GLUE_LAYERS)
        st = task_stats(list(pjobs.values()), tasks, cores)
        rows.append({
            "wall": wall(ps), "self": self_t, "coverage": 1.0 - glue / wall(ps),
            "build_jobs": sum(1 for j in pjobs.values() if j["span"] in build_ids),
            "exec_jobs": sum(1 for j in pjobs.values() if j["span"] in exec_ids),
            "stats": st, "core_busy": st["run_s"] / (cores * wall(ps)),
        })
    return rows


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import wrds_data_pipeline_spark as pkg
        if args.workload == "query_mix":
            import bench  # noqa: F401
        if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"found another copy at {pkg.__file__}")
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import digest
    import tracing

    t_run = time.time()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work_dir = os.path.join(ROOT, ".perfbench_work", run_id)
    for sub in ("input", "out", "tmp", "jtmp", "local", "eventlog"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    # spark-submit's launcher JVM: no perf-data file in the system tmp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work_dir, 'jtmp')}")
    tempfile.tempdir = None

    tracer = tracing.Tracer(run_id)
    ctx = Context(args, work_dir, tracer)
    host = tracing.host_stamp()
    record: dict = {"run": run_id, "args": vars(args), "host": host, "passes": []}
    try:
        t0 = time.time()
        ctx.spark = spark = start_session(work_dir, bool(args.trace))
        session_s = time.time() - t0
        if args.trace:
            tracer.attach(spark.sparkContext)
            install_read_spans(tracer)
        if args.workload == "taq_corr":
            from taq_corr import TaqCorr as W
        else:
            from query_mix import QueryMix as W
        wl = W(ctx)

        stage_s = []
        for rep in range(STAGE_REPS):
            t0 = time.time()
            used_input = wl.stage(rep)
            stage_s.append(time.time() - t0)
        input_bytes, input_files = tracing.tree_bytes_files(used_input)

        passes, pass_spans, storage = [], [], []
        t_warm = None
        while True:
            p = len(passes)
            ticks = tracing.cpu_ticks()
            with tracer.span(f"pass{p}", "pass") as ps:
                ops = wl.run_pass(p)
            wl.check(ops)
            passes.append(ops)
            pass_spans.append(ps)
            storage.append(storage_status(spark))
            record["passes"].append({
                "wall": tracing.wall(ps),
                "steal": tracing.steal_share(ticks, tracing.cpu_ticks()),
                "load_1m": os.getloadavg()[0],
                "ops": [{k: op.get(k) for k in ("name", "wall", "error", "problems")} for op in ops],
            })
            if p == 0:
                t_warm = time.time()
                continue
            if p < wl.min_warm_passes:
                continue
            if time.time() - t_warm >= args.seconds or time.time() - t_run > LAST_WARM_START_S:
                break

        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss_mb = {"python": tracing.vm_hwm_kb() / 1024.0, "jvm": tracing.vm_hwm_kb(jvm_pid) / 1024.0}
        peak_rss_mb = rss_mb["python"] + rss_mb["jvm"]
        reference = digest.recorded(args.workload, args.scale, args.seed)
        if reference is None:
            t0 = time.time()
            wl.verify(passes)
            record["verify_s"] = time.time() - t0
        stop_session(spark)
        ctx.spark = None

        failed, notes = check_ops(passes, reference)
        attempted = sum(len(ops) for ops in passes)
        for n in notes:
            print(f"perfbench: FAILED {n}", file=sys.stderr)
        if args.record_digests and failed == 0:
            digest.record(args.workload, args.scale, args.seed,
                          {op["name"]: op["digest"] for op in passes[0]})

        warm_walls = [tracing.wall(ps) for ps in pass_spans[1:]]
        warm_ops = [op["wall"] for ops in passes[1:] for op in ops]
        written = sum(tracing.tree_bytes_files(r)[0] for r in wl.sink_roots() + [ctx.tmp_dir])
        e2e = {
            "setup_s": session_s + statistics.median(stage_s),
            "cold_s": tracing.wall(pass_spans[0]),
            "warm_s": statistics.median(warm_walls),
            "op_p50_s": statistics.median(warm_ops),
            "op_p90_s": quantile(warm_ops, 0.9),
            "bytes_written_per_input_byte": written / input_bytes,
            "peak_rss_mb": peak_rss_mb,
        }
        record.update({"session_s": session_s, "stage_s": stage_s, "e2e": e2e, "rss_mb": rss_mb,
                       "failed_ops": notes, "storage": storage})

        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        if args.trace:
            values, layers = per_layer_values(
                wl, tracer, pass_spans, passes, storage, work_dir,
                session_s=session_s, input_files=input_files,
                warm_s=e2e["warm_s"], fail_frac=failed / attempted)
            units = per_layer_units()
            metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
            record.update(layers)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        else:
            metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        record["metrics"] = metrics
        with open(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        print(f"perfbench: host {host}; passes {[round(p['wall'], 2) for p in record['passes']]}",
              file=sys.stderr)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def per_layer_values(wl, tracer, pass_spans, passes, storage, work_dir, **run) -> tuple:
    """The traced run's per-layer values (medians over warm passes unless
    the metric says otherwise) and the per-pass layer rows behind them."""
    import tracing

    jobs, tasks = tracing.read_event_log(os.path.join(work_dir, "eventlog"))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    rows = layer_metrics(tracer, pass_spans[1:], jobs, tasks, cores)
    cold = layer_metrics(tracer, pass_spans[:1], jobs, tasks, cores)[0]

    def med(f):
        return statistics.median(f(r) for r in rows)

    sink_bytes = sink_files = 0
    for root in wl.sink_roots():
        b, f = tracing.tree_bytes_files(root)
        sink_bytes, sink_files = sink_bytes + b, sink_files + f
    values = {
        "session.start_s": run["session_s"],
        "sources.resolve_s": cold["self"].get("sources.resolve", 0.0),
        "sources.input_files": run["input_files"],
        "plans.build_s": med(lambda r: r["self"].get("plans.build", 0.0)),
        "plans.build_jobs": med(lambda r: r["build_jobs"]),
        "operators.exec_s": med(lambda r: r["self"].get("operators.exec", 0.0)),
        "operators.exec_jobs": med(lambda r: r["exec_jobs"]),
        "operators.tasks": med(lambda r: r["stats"]["tasks"]),
        "operators.rows_out": statistics.median(
            sum(op.get("rows", 0) for op in ops) for ops in passes[1:]),
        "operators.shuffle_write_bytes": med(lambda r: r["stats"]["sw"]),
        "operators.shuffle_read_bytes": med(lambda r: r["stats"]["sr"]),
        "operators.spill_bytes": med(lambda r: r["stats"]["spill"]),
        "operators.gc_s": med(lambda r: r["stats"]["gc_s"]),
        "operators.task_skew": med(lambda r: r["stats"]["skew"]),
        "operators.core_busy_frac": med(lambda r: r["core_busy"]),
        "caching.persisted_bytes": storage[-1][0],
        "caching.cached_relations": storage[-1][1],
        "sinks.write_s": med(lambda r: r["self"].get("sinks.write", 0.0)),
        "sinks.bytes_written": sink_bytes,
        "sinks.files_written": sink_files,
        "trace.warm_s": run["warm_s"],
        "trace.coverage": min(r["coverage"] for r in rows),
        "fail_frac": run["fail_frac"],
    }
    values.update(wl_layer_values(tracer, pass_spans[1:], jobs, per_layer_units()))
    last = passes[-1][0].get("digest")
    if wl.name == "taq_corr" and last:
        values["taq.panel_rows"], values["taq.corr_rows"] = last["panel"][0], last["corr"][0]
    return values, {"per_pass_layers": rows, "cold_layers": cold}


def wl_layer_values(tracer, pass_spans, jobs, units) -> dict:
    """Per-stage and per-query values: medians over warm passes of the
    stage/op span walls, their build and exec children, and jobs."""
    from tracing import wall

    per: dict[str, list[float]] = {}
    for ps in pass_spans:
        for s in tracer.descendants(ps["id"]):
            name = s["name"]
            if s["layer"] == "stage":
                per.setdefault(f"{name}_s", []).append(wall(s))
            elif s["layer"] == "op" and f"{name}.build_s" in units:
                ids = {s["id"]} | {d["id"] for d in tracer.descendants(s["id"])}
                per.setdefault(f"{name}.jobs", []).append(
                    sum(1 for j in jobs.values() if j["span"] in ids))
                for c in tracer.children(s["id"]):
                    kind = c["layer"].split(".")[-1]  # build / exec
                    per.setdefault(f"{name}.{kind}_s", []).append(wall(c))
    return {k: statistics.median(v) for k, v in per.items() if k in units}


if __name__ == "__main__":
    sys.exit(main())
