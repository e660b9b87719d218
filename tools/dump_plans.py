"""Dump .explain("formatted") for bench queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag> <suffix> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each query (default: the
bench.py headline list). Plan capture is driver-side only — no action
is executed — except for operators that do eager work while building
the DataFrame (e.g. IVF k-means); those still run their build jobs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402


def explain_str(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(qe, "formatted")


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r11"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = sys.argv[3:] or BENCH_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join("plans", tag)
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as E
    from sdvg_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="dump-plans", master=f"local[{cpus}]")
    qs = E.queries()
    for name in only:
        if name not in qs:
            print(f"SKIP {name}: not in queries()")
            continue
        try:
            df = qs[name](spark, sf_dir)
            txt = explain_str(df)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR {name}: {exc}")
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        n_ex = txt.count("Exchange")
        joins = [w for w in ("BroadcastHashJoin", "SortMergeJoin",
                             "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                             "CartesianProduct") if w in txt]
        py = [w for w in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                          "MapInPandas", "FlatMapGroupsInPandas") if w in txt]
        print(f"OK {name}: Exchange={n_ex} joins={joins} python={py}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
