"""IVF+PQ lifecycle benchmark for flechasdb_spark.

Run from the repository root (no PYTHONPATH needed):

    python3 perfbench/run.py --workload serve-point --seed 1 --seconds 10 --trace 0

Prints every metric by name and unit, writes the full run record to
``.perfbench/records/<workload>-seed<seed>-trace<trace>.json`` and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a traced run that alternates traced and untraced
requests, so it also states the tracing overhead.

Everything the run writes (the index store, Spark's local and temp
directories, the record) stays under ``.perfbench/`` in the current
directory; the store and Spark's temporary files are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the whole run peaks near 2.3 GB of RSS with this heap; the library's
# 48g default would not fit a small host
DRIVER_MEMORY = "1g"


def metric_units(key: str) -> dict:
    """{name: unit} of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics, in the file's order."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def spark_env(workdir: str) -> dict:
    """Point every temporary location of Spark, the JVMs and Python
    workers into ``workdir`` and size the session for this host."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_DRIVER_MEM": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    return {
        "master": f"local[{nproc}]",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    # the library and this directory's modules; importing them fails
    # (and the run exits non-zero) when the library is not beside us
    import workloads
    from ledger import summarize
    from probes import RssSampler, cpu_canary, host_stamp

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")

    out_root = os.path.join(os.getcwd(), ".perfbench")
    workdir = os.path.join(out_root, f"run-{os.getpid()}")
    records = os.path.join(out_root, "records")
    os.makedirs(records, exist_ok=True)
    conf = spark_env(workdir)
    stamp = {"seed": args.seed, "canary_gflops_before": cpu_canary()}
    trace = bool(args.trace)
    # the record keeps both kinds; the result line reports one of them
    e2e_units = metric_units("end_to_end")
    units = metric_units("per_layer") if trace else e2e_units

    from flechasdb_spark.session import get_spark

    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark(
                app_name="perfbench",
                extra_conf={k: v for k, v in conf.items() if k.startswith("spark.")
                            and k != "spark.driver.memory"},
            )
            stamp["session_start_s"] = time.perf_counter() - t0
            bench = workloads.Bench(spark, workdir, args.seed, trace)
            try:
                run = getattr(bench, args.workload.replace("-", "_"))
                res = run(args.seconds)
                e2e = bench.end_to_end(res)
                layers = bench.per_layer() if trace else {}
            except Exception as e:  # report the failed run, then clean up
                traceback.print_exc()
                bench.failed += 1
                bench.attempted += 1
                bench.failures.append(f"run aborted: {e!r}"[:500])
                e2e = {k: 0.0 for k in e2e_units}
                layers = {k: 0.0 for k in units} if trace else {}
            finally:
                stop_spark(spark)
        e2e["peak_rss_mb"] = rss.peak_mb
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    stamp.update(host_stamp(conf))
    stamp["canary_gflops_after"] = cpu_canary()
    stamp["loadavg_after"] = list(os.getloadavg())

    values = layers if trace else e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    correct = bench.failed == 0
    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": stamp,
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "error_rate": bench.failed / max(1, bench.attempted),
        "failures": bench.failures,
        "end_to_end": e2e,
        "per_layer": layers,
        "ops": {op: summarize(w) for op, w in bench.walls.items()},
        "requests": bench.requests,
        "extra": bench.extra,
    }
    if trace:
        record["self_time_s"] = bench.tracer.self_times()
        record["spans"] = bench.tracer.spans
    path = os.path.join(
        records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=float)

    for name, m in metrics.items():
        print(f"{name:<40} {m['value']:>16.6g} {m['unit']}")
    if not trace:
        print(f"{'queries_per_s':<40} {e2e.get('queries_per_s', 0.0):>16.6g} 1/s")
    for op, s in record["ops"].items():
        print(f"op {op:<37} " + " ".join(f"{k}={v:.6g}" for k, v in s.items()))
    print(f"error_rate {record['error_rate']:.6g} ({bench.failed}/{bench.attempted})")
    for msg in bench.failures[:5]:
        print(f"failure: {msg}")
    print(f"record: {path}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
