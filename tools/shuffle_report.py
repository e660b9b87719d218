"""Per-query shuffle/input byte report via Spark's status REST API.

Quantifies the plan-audit story the plan tests assert qualitatively:
how many bytes each headline query actually shuffles at a given scale
factor, and — when two sf dirs are given — how those bytes GROW with
the data (the 100 TB question). Each query's DataFrame build and its
action are timed and tagged apart, so the table also splits wall time
and Spark jobs into build vs action. Run:

    python tools/shuffle_report.py [sf_dir ...] > SHUFFLE_r{N}.md
    SHUFFLE_QUERIES=unigram_nll,ann_ivf python tools/shuffle_report.py <sf_dir>

The default query list is bench.py's ``BENCH_QUERIES``;
``SHUFFLE_QUERIES`` names any other ``queries()`` entries.

Attribution is by job group (``setJobGroup`` around each run, jobs ->
stageIds via the REST API), not a stage-id watermark: stages that
complete late are still attributed to the query that submitted them,
and concurrent/AQE-reused stages cannot leak across queries. Skipped
(reuse) stages execute nothing and correctly contribute no bytes.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}") as r:
        return json.load(r)


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]

    import __spark_entry__ as E
    from sdvg_spark.session import get_spark

    spark = get_spark(app_name="shuffle-report")
    sc = spark.sparkContext
    base = sc.uiWebUrl
    app_id = _api(base, "applications")[0]["id"]
    qs = E.queries()

    def run_tagged(tag: str, name: str, sf_dir: str) -> dict:
        """Build the query under job group ``<tag>:build`` and run its
        noop action under ``<tag>:action`` (operators that do eager
        work while building the DataFrame fire their jobs in the first
        group); returns the two wall times."""
        try:
            sc.setJobGroup(f"{tag}:build", f"{name} build @ {sf_dir}")
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{tag}:action", f"{name} action @ {sf_dir}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        finally:
            sc.setJobGroup("", "")
        time.sleep(1.0)  # AppStatusListener aggregates asynchronously
        return {"build_s": t1 - t0, "action_s": t2 - t1}

    def collect(tag: str):
        jobs = _api(base, f"applications/{app_id}/jobs")
        stage_ids = set()
        n_jobs = {"build_jobs": 0, "action_jobs": 0}
        for j in jobs:
            for phase in ("build", "action"):
                if j.get("jobGroup") == f"{tag}:{phase}":
                    n_jobs[f"{phase}_jobs"] += 1
                    stage_ids.update(j.get("stageIds", []))
        stages = _api(base, f"applications/{app_id}/stages?status=complete")
        mine = [s for s in stages if s["stageId"] in stage_ids]
        return {
            **n_jobs,
            "stages": len(mine),
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in mine) / 1e6,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in mine) / 1e6,
            "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in mine) / 1e6,
        }

    # SHUFFLE_QUERIES=a,b,c restricts the sweep (large scale points);
    # a query that errors at a given scale (e.g. a byte-capped tier
    # refusing, by design) records err instead of killing the report
    only = os.environ.get("SHUFFLE_QUERIES", "")
    queries = [q for q in only.split(",") if q] or BENCH_QUERIES

    run_tagged("warmup", queries[0], sf_dirs[0])  # absorb scan/codegen init

    from sdvg_spark.session import scale_shuffle_partitions

    per_dir: dict[str, list[dict]] = {}
    for di, sf_dir in enumerate(sf_dirs):
        # size shuffle partitions to THIS scale point's input bytes —
        # the sf10 simhash spill in SHUFFLE_r06 was 32 fixed partitions
        # sized for sf0.1 (session.py:scale_shuffle_partitions)
        n_parts = scale_shuffle_partitions(spark, sf_dir)
        print(f"<!-- {sf_dir}: spark.sql.shuffle.partitions={n_parts} -->")
        rows = []
        for name in queries:
            tag = f"{name}#{di}"
            try:
                walls = run_tagged(tag, name, sf_dir)
            except Exception as e:
                rows.append(
                    {
                        "query": name,
                        "build_s": 0.0,
                        "build_jobs": 0,
                        "action_s": 0.0,
                        "action_jobs": 0,
                        "stages": 0,
                        "shuffle_write_mb": 0.0,
                        "shuffle_read_mb": 0.0,
                        "spill_mb": 0.0,
                        "err": f"{type(e).__name__}: {str(e)[:120]}",
                    }
                )
                continue
            rows.append({"query": name, **walls, **collect(tag)})
        per_dir[sf_dir] = rows

    def dir_mb(d):
        total = 0
        for f in os.listdir(d):
            p = os.path.join(d, f)
            if f.endswith(".parquet"):
                if os.path.isdir(p):  # spark-written dataset dir
                    total += sum(
                        os.path.getsize(os.path.join(p, g))
                        for g in os.listdir(p)
                        if g.endswith(".parquet")
                    )
                else:
                    total += os.path.getsize(p)
        return total / 1e6

    print(f"# Shuffle report — {', '.join(sf_dirs)}")
    print()
    print("Bytes each headline query moves through the shuffle (status")
    print("REST API, job-group attribution, one run per query after")
    print("warm-up). This is the scale story behind the plan tests: a")
    print("query whose shuffle is a small fraction of its input stays")
    print("network-light at 100x, and zero spill means partitions fit")
    print("executor memory at this sizing. Build columns count the wall")
    print("time and Spark jobs of constructing the DataFrame (eager work")
    print("such as k-means or footer reads), action columns the noop write.")
    for sf_dir, rows in per_dir.items():
        print()
        print(f"## {sf_dir} (tables on disk: {dir_mb(sf_dir):.0f} MB)")
        print()
        print(
            "| query | build s | build jobs | action s | action jobs "
            "| stages | shuffle write MB | shuffle read MB | spill MB |"
        )
        print("|---|---|---|---|---|---|---|---|---|")
        for r in rows:
            name = r["query"] + (f" (ERR: {r['err']})" if r.get("err") else "")
            print(
                f"| {name} | {r['build_s']:.3f} | {r['build_jobs']} "
                f"| {r['action_s']:.3f} | {r['action_jobs']} "
                f"| {r['stages']} | {r['shuffle_write_mb']:.2f} "
                f"| {r['shuffle_read_mb']:.2f} | {r['spill_mb']:.2f} |"
            )
    if len(sf_dirs) == 2:
        a, b = sf_dirs
        in_ratio = dir_mb(b) / max(dir_mb(a), 1e-9)
        print()
        print(f"## Scaling {a} -> {b} (input bytes grow {in_ratio:.1f}x)")
        print()
        print("Shuffle-growth ratio per query vs the input-growth ratio —")
        print("at or below the input ratio means the operator's network")
        print("cost scales (sub)linearly with the data. The ANN queries'")
        print("COMPUTE grows ~quadratically in this fixture (the `% 50`")
        print("query census grows with the corpus), but their shuffle is")
        print("O(queries·k·partitions) by design, so the ratio stays ~10x.")
        print()
        print("| query | shuffle write ratio | shuffle read ratio | spill (big) MB |")
        print("|---|---|---|---|")
        for ra, rb in zip(per_dir[a], per_dir[b]):
            def ratio(key):
                base_v = ra[key]
                return (rb[key] / base_v) if base_v > 0.005 else float("nan")

            wr, rr = ratio("shuffle_write_mb"), ratio("shuffle_read_mb")
            wr_s = f"{wr:.1f}x" if wr == wr else "—"
            rr_s = f"{rr:.1f}x" if rr == rr else "—"
            print(f"| {ra['query']} | {wr_s} | {rr_s} | {rb['spill_mb']:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
