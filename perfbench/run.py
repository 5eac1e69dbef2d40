"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One workload repetition runs in a fresh
worker process, which generates the inputs from the seed, measures, and
checks the outputs. This prints a report line, then the result line
BENCHMARK.json expects: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload untraced and then traced, and reports the per-layer metrics, the
tracing overhead and how well the package-level spans under each operation
reconcile with the untraced wall; a trace that does not counts as a failure.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "amazon_sales_data_engineering_spark"
WORKLOAD_NAMES = ("elt_bulk", "elt_incremental", "star_queries", "iterative_loops")
#: the end-to-end metrics BENCHMARK.json gates, emitted on every workload
GATED = ("op_p50_rel", "throughput_rel", "setup_s")
#: host speed probe: this many timings of ``_probe_once`` before the worker
#: starts and as many after it ends
PROBE_SAMPLES = 7
#: Spark runs as local[CPUS]. Two cores leave the rest of a 4-core host to
#: the JVM's collector and compiler threads and the Python driver, so the
#: timings depend less on what else the host runs.
CPUS = min(2, os.cpu_count() or 1)
#: A traced run reconciles when the step spans (``spans.STEP_SPANS``) under
#: its operation spans leave at most UNCOVERED_TOLERANCE of the operations'
#: wall uncovered (a missing or misplaced wrapper shows here), and when the
#: wall they cover
#: is within RECONCILE_TOLERANCE of the untraced run's wall. The second
#: compares two processes run a minute apart, so it also absorbs the
#: tracing overhead and the host's drift between them.
UNCOVERED_TOLERANCE = 0.02
RECONCILE_TOLERANCE = 0.5
#: an invocation ends within this many seconds, workers included
DEADLINE_S = 175


def host_fingerprint(root: str) -> dict:
    """Enough about the host to refuse cross-host comparisons."""

    def version(dist: str) -> str | None:
        try:
            return importlib.metadata.version(dist)
        except importlib.metadata.PackageNotFoundError:
            return None

    mem_kb = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.TimeoutExpired):
        java = None
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        proc = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=30)
        commit = proc.stdout.strip() or None
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": CPUS,  # as the worker runs it: local[CPUS]
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "java": java,
        "pyspark": version("pyspark"),
        "duckdb": version("duckdb"),
        "python": sys.version.split()[0],
        "git_commit": commit,
    }


def _probe_once() -> float:
    """Seconds for a fixed pure-Python computation, about 0.1 s: how fast
    the host runs a single thread right now."""
    start = time.perf_counter()
    h = 0
    for i in range(1_500_000):
        h = (h * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - start


def host_probe() -> list[float]:
    return [_probe_once() for _ in range(PROBE_SAMPLES)]


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait until
    every member has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.time() + 10
        while time.time() < end:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                proc.wait()
                return
            proc.poll()
            time.sleep(0.05)
    proc.wait()


def run_worker(root: str, work: str, args, deadline: float, trace: bool) -> dict:
    """Start one fresh worker process and return its result."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "TMPDIR": os.path.join(work, "tmp"),
        # keep every JVM (Spark's launcher included) out of the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYTHONHASHSEED": "0",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(int(trace)),
           "--cpus", str(CPUS), "--work", work, "--out", out]
    with open(os.path.join(work, "worker.log"), "ab") as log:
        env["PERFBENCH_T0"] = repr(time.time())
        # own process group: the worker's JVM and Python daemons go with it
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap(proc)
    if code is None:
        raise RuntimeError("worker ran past the invocation deadline")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log"), errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def named_metrics(workload: str, res: dict, probe: list[float]) -> dict:
    """Every end-to-end number, with unit and sample count: the gated
    generic names (see BENCHMARK.json) and the names each workload's users
    know them by. ``probe`` holds the host-speed timings taken around the
    run; the ``_rel`` metrics are the operation metrics in units of their
    median, so that the host's own speed cancels."""
    lat, n_ops = res["latencies"], res["attempted"]
    probe_s = statistics.median(probe)
    setup = {"value": res["setup_s"], "unit": "s", "n": 1}
    p50 = {"value": statistics.median(lat), "unit": "s", "n": len(lat)}
    rate = {"value": res["throughput_per_s"], "unit": "1/s", "n": res["throughput_n"]}
    out = {
        "op_p50_rel": {"value": p50["value"] / probe_s, "unit": "ratio", "n": len(lat)},
        "throughput_rel": {"value": rate["value"] * probe_s, "unit": "ratio",
                           "n": res["throughput_n"]},
        "setup_s": setup,
        "host_probe_s": {"value": probe_s, "unit": "s", "n": len(probe)},
        "op_p50_s": p50,
        "throughput_per_s": rate,
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB", "n": 1},
        "error_rate": {"value": res["failed"] / n_ops, "unit": "ratio", "n": n_ops},
    }
    if workload == "elt_bulk":
        out["bulk_orders_per_s"] = rate
    elif workload == "elt_incremental":
        out["base_load_s"] = {"value": res["base_load_s"], "unit": "s", "n": 1}
        out["increment_p50_s"] = p50
        out["increment_max_s"] = {"value": max(lat), "unit": "s", "n": len(lat)}
        out["redelivery_s"] = {"value": res["redelivery_s"], "unit": "s", "n": 1}
    else:
        ordered = sorted(lat)
        out["query_p50_s"] = p50
        # a percentile needs ten samples beyond it; say when it has fewer
        out["query_p90_s"] = {"value": ordered[min(len(ordered) - 1, int(0.9 * len(ordered)))],
                              "unit": "s", "n": len(lat), "underpowered": len(lat) < 100}
        out["queries_per_s"] = rate
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    deadline = time.time() + DEADLINE_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    try:
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "host": host_fingerprint(root)}
        probe = host_probe()
        res = run_worker(root, os.path.join(base, "run"), args, deadline, trace=False)
        probe += host_probe()
        report["metrics"] = named_metrics(args.workload, res, probe)
        report["verdict"] = {"attempted": res["attempted"], "failed": res["failed"],
                             "failures": res["failures"]}
        report["storage"] = {k: res[k] for k in ("persisted_rdds", "persisted_mb", "raw_mb",
                                                  "warehouse_mb", "stored_per_raw_byte",
                                                  "fact_per_curated_row")
                             if k in res}
        report["phases_s"] = {"setup": res["setup_s"], **res["phases_s"]}
        report["ops"] = [{k: o[k] for k in ("name", "s", "ok")} for o in res["ops"]]
        attempted, failed = res["attempted"], res["failed"]
        if args.trace:
            metrics, trace_report, traced = traced_run(root, base, args, deadline, res)
            report["trace"] = trace_report
            attempted += traced["attempted"]
            failed += traced["failed"]
            if not trace_report["reconciled"]:  # the trace misses part of the work
                failed += 1
                report["verdict"]["failures"].append("trace does not reconcile: " + json.dumps(
                    {k: trace_report[k] for k in ("uncovered_share", "reconcile_err")}))
        else:
            metrics = {k: {"value": report["metrics"][k]["value"], "unit": report["metrics"][k]["unit"]}
                       for k in GATED}
        print(json.dumps(report, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return 0


def traced_run(root: str, base: str, args, deadline: float, untraced: dict):
    import spans as tracing

    work = os.path.join(base, "traced")
    res = run_worker(root, work, args, deadline, trace=True)
    spans = tracing.load_spans(os.path.join(work, "spans.json"))
    attrib = tracing.attribute(spans, tracing.read_event_log(os.path.join(work, "eventlog")))
    layer = tracing.layer_metrics(spans, attrib)
    layer["sources.sinks.stored_per_raw_byte"] = res.get("stored_per_raw_byte", 0.0)
    layer["operators.persisted_rdds_after"] = res["persisted_rdds"]
    layer["operators.persisted_mb_after"] = res["persisted_mb"]
    ops_wall, covered = tracing.operation_coverage(spans)
    untraced_wall = sum(o["s"] for o in untraced["ops"])
    traced_wall = sum(o["s"] for o in res["ops"])
    layer["trace.overhead_s"] = traced_wall - untraced_wall
    layer["trace.reconcile_err"] = abs(covered - untraced_wall) / untraced_wall
    layer["trace.uncovered_share"] = 1.0 - covered / ops_wall
    report = {
        "spans": len(spans),
        "operation_span_s": ops_wall,
        "covered_s": covered,
        "untraced_wall_s": untraced_wall,
        "traced_wall_s": traced_wall,
        "overhead_s": traced_wall - untraced_wall,
        "uncovered_share": layer["trace.uncovered_share"],
        "reconcile_err": layer["trace.reconcile_err"],
        "uncovered_tolerance": UNCOVERED_TOLERANCE,
        "reconcile_tolerance": RECONCILE_TOLERANCE,
        "reconciled": (layer["trace.uncovered_share"] <= UNCOVERED_TOLERANCE
                       and layer["trace.reconcile_err"] <= RECONCILE_TOLERANCE),
    }
    missing = set(tracing.PER_LAYER) ^ set(layer)
    if missing:
        raise RuntimeError(f"per-layer metrics out of step with spans.PER_LAYER: {missing}")
    metrics = {name: {"value": layer[name], "unit": unit}
               for name, unit in tracing.PER_LAYER.items()}
    return metrics, report, res


def _terminate(signum, frame):
    """A terminated run still unwinds: the running worker's process group is
    reaped and the work directory removed."""
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main(sys.argv[1:]))
