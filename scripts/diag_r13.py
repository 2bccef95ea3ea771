"""r13 diagnostic: per-row (plan-build time, execute time, job count)
for the literal-path rows VERDICT r12 flagged as regressed. Build time
is the REGISTRY call itself (driver-side: py4j literal construction +
_small_centroid_rows collect jobs); execute is .collect() on the built
frame. Run on a warm session: one untimed warm-up rep, then N timed.

Usage, from the repo root (no PYTHONPATH needed):
    python scripts/diag_r13.py [row ...]   (default: the flagged set)
Prints one JSON line per row with a canary stamp.
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROWS = [
    "ivfsq_merge_query",
    "index_split_query",
    "ivfsq_packed_knn",
    "ivfsq_batch_knn",
    "ivfsq_attr_filtered",
    "ivfsq_cosine_knn",
    "ivfsq_upsert_query",
    "bq_asymmetric_knn",
]


def canary(n=2048, reps=3):
    import numpy as np

    a = np.random.default_rng(0).standard_normal((n, n))
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        a @ a
        ts.append(time.perf_counter() - t0)
    return round(2.0 * n**3 / sorted(ts)[len(ts) // 2] / 1e9, 1)


def main():
    sys.path.insert(0, REPO)
    from flechasdb_spark.queries import REGISTRY
    from flechasdb_spark.session import get_spark

    rows = sys.argv[1:] or ROWS
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="diag_r13")
    sc = spark.sparkContext
    spark.read.parquet(f"{sf}/embeddings.parquet").count()
    print(json.dumps({"canary_gflops_start": canary(),
                      "load": os.getloadavg()[0]}), flush=True)
    for name in rows:
        fn = REGISTRY[name]
        fn(spark, sf).collect()  # warm-up
        reps = []
        for i in range(3):
            group = f"diag_{name}_{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, sf)
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            sc.setJobGroup(None, None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            reps.append(
                {"build_s": round(t1 - t0, 3),
                 "exec_s": round(t2 - t1, 3),
                 "total_s": round(t2 - t0, 3),
                 "jobs": jobs}
            )
        best = min(reps, key=lambda r: r["total_s"])
        print(json.dumps({"row": name, "best": best, "reps": reps}),
              flush=True)
    print(json.dumps({"canary_gflops_end": canary(),
                      "load": os.getloadavg()[0]}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
