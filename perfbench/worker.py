"""One workload repetition in a fresh process.

Started by ``run.py``; never run by hand. Measures its own set-up (process
start until the Spark session is ready), generates the workload's inputs
from the seed, runs the timed closed loop, records storage and memory,
checks the outputs untimed, and writes one JSON result file. With
``--trace`` it records spans and an uncompressed event log instead of
checking the outputs, which the untraced repetition of the same seed has
already checked.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS over this process and its children
    (the Spark JVM): an upper bound on the tree's peak."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me] + _descendants(me)) / 1024.0


def storage_info(spark) -> tuple[int, float]:
    """Persisted RDD count and bytes (memory + disk) from the JVM."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def make_session(work: str, cpus: int, trace: bool):
    from amazon_sales_data_engineering_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    import amazon_sales_data_engineering_spark.plans  # noqa: F401  (registry)

    spark = make_session(args.work, args.cpus, bool(args.trace))
    result: dict = {"setup_s": time.time() - T0}

    workload = WORKLOADS[args.workload](spark, args.work, random.Random(args.seed), args.seed)
    phases = result["phases_s"] = {}
    mark = time.time()
    workload.prepare()
    workload.warm_up()
    phases["prepare_and_warm_up"] = time.time() - mark
    tracer = None
    if args.trace:
        import spans as tracing

        tracer = tracing.Tracer(spark, run_id=f"{args.workload}-{args.seed}")
        tracing.install(tracer)
        workload.tracer = tracer
    start = time.time()
    workload.run(args.seconds)
    phases["work"] = time.time() - start
    result["peak_rss_mb"] = peak_rss_mb()
    result["persisted_rdds"], result["persisted_mb"] = storage_info(spark)
    mark = time.time()
    if not args.trace:
        try:
            workload.verify()
        except Exception:  # a crashed check is a failed check, with its traceback
            workload.fail_all(traceback.format_exc())
    phases["verify"] = time.time() - mark
    result.update(workload.report())
    if tracer is not None:
        tracer.dump(os.path.join(args.work, "spans.json"))
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
