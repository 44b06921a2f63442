"""Alert-broker benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload livestream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # untraced + traced, tables
    python3 perfbench/run.py --compare a.json b.json          # two saved ``all`` results

A single-workload run starts one Spark session, builds its inputs from the
seed, warms up, measures (livestream offers its nominal load for
``--seconds`` seconds; batch runs a fixed sequence once), checks every output
outside the timed region and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and lines starting with ``#`` before it carry the traced end-to-end
numbers and the host facts. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("livestream", "batch")
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    import numpy as np

    return float(np.percentile(values, q))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Ctx:
    """What a workload gets: the session, its seed and budget, a private
    work directory inside the checkout and the tracer."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.facts: dict = {}
        self.sizes: dict = {}


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_facts(spark, seed: int) -> dict:
    from fink_filters_spark.operators.ml import REFERENCE_TDE_MODEL_DIR

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version,
        "seed": seed,
        # the engine silently scores with a demo model when this is absent
        "reference_mounted": os.path.isdir(REFERENCE_TDE_MODEL_DIR),
    }


def _configure_env(work: str, trace: bool) -> None:
    """Everything the session writes stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir=file://{work}/warehouse",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    ]
    if trace:
        from tracing import event_log_conf

        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs += event_log_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    try:
        sys.path.insert(0, ROOT)
        import fink_filters_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 3
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, bool(args.trace))
    import importlib

    from tracing import Tracer, covered_seconds, read_event_log

    wl = importlib.import_module(f"wl_{args.workload}")
    ctx = Ctx(args, work)
    spark = None
    try:
        t0 = time.perf_counter()
        from fink_filters_spark.session import get_session

        spark = get_session(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        ctx.tracer = Tracer(ctx.trace, spark)
        ctx.facts = host_facts(spark, args.seed)
        state = wl.setup(ctx)
        setup_s = time.perf_counter() - t0

        e2e, aliases = wl.measure(ctx, state)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss = _hwm_mb(os.getpid()) + _hwm_mb(jvm_pid)
        attempted, failed, notes = wl.check(ctx, state)
        _stop_session(spark)  # also stops a running stream
        spark = None
        layers = {}
        if ctx.trace:
            groups = read_event_log(os.path.join(work, "eventlog"))
            layers = {"session.start_s": session_s, **wl.layers(ctx, state, groups, covered_seconds)}
            spans_path = os.path.join(os.path.dirname(work), "spans", f"{args.workload}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            ctx.tracer.dump(spans_path)
    finally:
        if spark is not None:  # an error left the session running
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": setup_s, **e2e, "peak_rss_mb": peak_rss}
    facts = {**ctx.facts, "sizes": ctx.sizes}
    detail = {
        "workload": args.workload, "trace": ctx.trace, "host": facts,
        "e2e": e2e, "aliases": aliases, "layers": layers, "notes": notes,
        "attempted": attempted, "failed": failed,
    }
    print("# host " + json.dumps(facts, sort_keys=True))
    for name, value in e2e.items():
        print(f"# e2e {name} = {value:.6g} {E2E_UNITS[name]}")
    for name, (value, unit) in aliases.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    print(f"# failed_frac = {failed / max(attempted, 1):.6g} ({failed}/{attempted})")
    for note in notes:
        print(f"# check: {note}")
    if ctx.trace:
        print(f"# spans {os.path.relpath(spans_path)}")
        for name, unit in LAYER_UNITS.items():
            print(f"# layer {name} = {layers.get(name, 0.0):.6g} {unit}")
    print("# detail " + json.dumps(detail, sort_keys=True, default=str))
    if ctx.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in LAYER_UNITS.items()}
    else:
        # peak RSS is printed above but not gated: the JVM's heap growth makes
        # it spread by up to 0.20 (IQR/median) over ten seeds on a 4-core host
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E_UNITS.items()
                   if n != "peak_rss_mb"}
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


# -- per-layer metric catalogue ----------------------------------------------

# a short mix, one cold pass of which fits a run: the dense cosine kernel,
# the connected-components operator, the many-job recursive chain and a
# single-shuffle text query (text_sparse_cosine alone would add about 9 s)
CURATION_MIX = ("dedup_embedding_cosine", "dedup_components", "q_recursive_chain", "text_bigrams")
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.rows_per_batch_p50": "count",
    "sources.backlog_files_max": "count",
    "sources.generator_late_ms_max": "ms",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms",
    "filters.nightly_report_s": "s",
    "filters.topics_isolated_s": "s",
    "filters.slowest_topic_s": "s",
    "filters.scan_only_s": "s",
    "filters.selected": "count",
    "operators.crossmatch.call_s": "s",
    "operators.crossmatch.matched_frac": "ratio",
    "operators.topk.anomaly_s": "s",
    "operators.fit.call_s": "s",
    "operators.fit.objects": "count",
    "operators.fit.valid_frac": "ratio",
    "sinks.notify_batch_ms_p50": "ms",
    "sinks.sent": "count",
    "sinks.retries": "count",
    "sinks.failed": "count",
    "sinks.state_update_s": "s",
    "programs.nightly.read_state_s": "s",
    "programs.anomaly.notification_s": "s",
}
# and per query of the curation mix (read 0 on livestream):
for _q in CURATION_MIX:
    LAYER_UNITS.update({
        f"queries.{_q}.wall_s": "s",
        f"queries.{_q}.outside_jobs_s": "s",
        f"queries.{_q}.jobs": "count",
        f"queries.{_q}.executor_run_s": "s",
        f"queries.{_q}.shuffle_bytes": "bytes",
    })


# -- orchestration: all workloads, traced and untraced ------------------------

def _child(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    detail = next(json.loads(line[len("# detail "):]) for line in out.splitlines()
                  if line.startswith("# detail "))
    detail["result"] = json.loads(out.strip().splitlines()[-1])
    return detail


def _same_cores(a: dict, b: dict) -> bool:
    keys = ("nproc", "SPARK_GRAFT_CPUS")
    return all(a["host"][k] == b["host"][k] for k in keys)


def run_all(args) -> int:
    results = []
    for wl in WORKLOADS:
        plain = _child(wl, args.seed, args.seconds, 0)
        traced = _child(wl, args.seed, args.seconds, 1)
        if not _same_cores(plain, traced):
            print(f"perfbench: {wl} traced and untraced runs saw different core counts", file=sys.stderr)
            return 2
        results.append({"workload": wl, "untraced": plain, "traced": traced})
    print(f"host: {json.dumps(results[0]['untraced']['host'], sort_keys=True)}")
    print(f"\n{'workload':<11} {'metric':<26} {'untraced':>12} {'traced':>12} {'overhead':>10} unit")
    for r in results:
        p, t = r["untraced"], r["traced"]
        for name, unit in E2E_UNITS.items():
            a, b = p["e2e"][name], t["e2e"][name]
            print(f"{r['workload']:<11} {name:<26} {a:>12.4g} {b:>12.4g} {b - a:>+10.3g} {unit}")
        for name, (value, unit) in p["aliases"].items():
            print(f"{r['workload']:<11} {name:<26} {value:>12.4g} {'':>12} {'':>10} {unit}")
        frac = p["failed"] / max(p["attempted"], 1)
        print(f"{r['workload']:<11} {'failed_frac':<26} {frac:>12.4g} {'':>12} {'':>10} ratio")
    for r in results:
        print(f"\nper-layer, {r['workload']} (traced run; tracing overhead above):")
        for name, unit in LAYER_UNITS.items():
            v = r["traced"]["layers"].get(name, 0.0)
            print(f"  {name:<42} {v:>14.6g} {unit}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1, default=str)
    ok = all(r["untraced"]["failed"] == 0 and r["traced"]["failed"] == 0 for r in results)
    return 0 if ok else 1


def compare(paths: list[str]) -> int:
    a, b = (json.load(open(p)) for p in paths)
    for ra, rb in zip(a, b):
        if not _same_cores(ra["untraced"], rb["untraced"]):
            print(f"perfbench: refusing to compare results taken at different core counts: "
                  f"{ra['untraced']['host']} vs {rb['untraced']['host']}", file=sys.stderr)
            return 2
    print(f"{'workload':<11} {'metric':<20} {'A':>12} {'B':>12} {'B/A':>8}")
    for ra, rb in zip(a, b):
        for name in E2E_UNITS:
            x, y = ra["untraced"]["e2e"][name], rb["untraced"]["e2e"][name]
            print(f"{ra['workload']:<11} {name:<20} {x:>12.4g} {y:>12.4g} {y / x if x else 0:>8.3f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="with --workload all: save both runs per workload as JSON")
    ap.add_argument("--compare", nargs=2, metavar="RESULT", help="compare two saved --out files")
    args = ap.parse_args()
    if args.compare:
        return compare(args.compare)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
