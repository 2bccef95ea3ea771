"""Dump .explain("formatted") for registry rows to <outdir>/<row>_<tag>.txt.
Usage, from the repo root (no PYTHONPATH needed):
    python scripts/dump_plans.py <outdir> <tag> <row> [row ...]
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    outdir, tag = sys.argv[1], sys.argv[2]
    rows = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sys.path.insert(0, REPO)
    from flechasdb_spark.queries import REGISTRY
    from flechasdb_spark.session import get_spark

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dump_plans")
    for name in rows:
        df = REGISTRY[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {n_ex} Exchange nodes -> {name}_{tag}.txt",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
