"""Per-query shuffle/input byte report from perfbench's trace spans.

Quantifies the plan-audit story the plan tests assert qualitatively:
how many bytes each headline query actually shuffles at a given scale
factor, and — when two sf dirs are given — how those bytes GROW with
the data (the 100 TB question). Each query's DataFrame build and its
action are timed and attributed apart, so the table also splits wall
time and Spark jobs into build vs action. Run:

    python tools/shuffle_report.py [sf_dir ...] > SHUFFLE_r{N}.md
    SHUFFLE_QUERIES=unigram_nll,ann_ivf python tools/shuffle_report.py <sf_dir>

The default query list is bench.py's ``BENCH_QUERIES``;
``SHUFFLE_QUERIES`` names any other ``queries()`` entries.

Attribution is ``perfbench/trace.py``'s: one span per query with
``build`` and ``action`` children, each tagging its jobs with its own
job group, so stages that complete late are still attributed to the
query that submitted them. Skipped (reuse) stages execute nothing and
contribute no bytes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from perfbench.trace import SparkStatus, inclusive, traced  # noqa: E402
from sdvg_spark.plan_stats import dataset_bytes  # noqa: E402


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]

    import __spark_entry__ as E
    from sdvg_spark.session import get_spark, scale_shuffle_partitions

    spark = get_spark(app_name="shuffle-report")
    status = SparkStatus(spark)
    qs = E.queries()

    # SHUFFLE_QUERIES=a,b,c restricts the sweep (large scale points);
    # a query that errors at a given scale (e.g. a byte-capped tier
    # refusing, by design) records err instead of killing the report
    only = os.environ.get("SHUFFLE_QUERIES", "")
    queries = [q for q in only.split(",") if q] or BENCH_QUERIES

    # warm-up: absorb scan/codegen init
    qs[queries[0]](spark, sf_dirs[0]).write.format("noop").mode("overwrite").save()

    errors: dict[tuple[str, str], str] = {}

    def body(tr):
        """One span per query; its ``build`` child constructs the
        DataFrame (operators that do eager work fire their jobs there),
        its ``action`` child runs the noop write."""
        for sf_dir in sf_dirs:
            # size shuffle partitions to THIS scale point's input bytes —
            # the sf10 simhash spill in SHUFFLE_r06 was 32 fixed partitions
            # sized for sf0.1 (session.py:scale_shuffle_partitions)
            n_parts = scale_shuffle_partitions(spark, sf_dir)
            print(f"<!-- {sf_dir}: spark.sql.shuffle.partitions={n_parts} -->")
            for name in queries:
                with tr.span(name, sf_dir=sf_dir):
                    try:
                        with tr.span("build"):
                            df = qs[name](spark, sf_dir)
                        with tr.span("action"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:
                        errors[sf_dir, name] = f"{type(e).__name__}: {str(e)[:120]}"

    tr, by_span, _recon = traced(spark, status, lambda tr: None, body)

    def phase(kids: dict, name: str) -> tuple[float, int]:
        k = kids.get(name)
        return (k.duration, int(inclusive(tr, by_span, k)["jobs"])) if k else (0.0, 0)

    per_dir: dict[str, list[dict]] = {d: [] for d in sf_dirs}
    for s in tr.spans:
        if s.parent is not None:
            continue
        kids = {c.name: c for c in tr.spans if c.parent == s.id}
        tot = inclusive(tr, by_span, s)
        (build_s, build_jobs), (action_s, action_jobs) = phase(kids, "build"), phase(kids, "action")
        sf_dir = s.attrs["sf_dir"]
        per_dir[sf_dir].append({
            "query": s.name,
            "build_s": build_s,
            "build_jobs": build_jobs,
            "action_s": action_s,
            "action_jobs": action_jobs,
            "python_s": tot["run_s"],
            "stages": int(tot["stages"]),
            "shuffle_write_mb": tot["shuffle_write_bytes"] / 1e6,
            "shuffle_read_mb": tot["shuffle_read_bytes"] / 1e6,
            "spill_mb": tot["spill_bytes"] / 1e6,
            "err": errors.get((sf_dir, s.name)),
        })

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
    print("`python s` is the time inside Python workers; spill counts")
    print("memory and disk spill together.")
    for sf_dir, rows in per_dir.items():
        print()
        print(f"## {sf_dir} (tables on disk: {dataset_bytes(sf_dir) / 1e6:.0f} MB)")
        print()
        print(
            "| query | build s | build jobs | action s | action jobs | python s "
            "| stages | shuffle write MB | shuffle read MB | spill (mem+disk) MB |"
        )
        print("|---|---|---|---|---|---|---|---|---|---|")
        for r in rows:
            name = r["query"] + (f" (ERR: {r['err']})" if r["err"] else "")
            print(
                f"| {name} | {r['build_s']:.3f} | {r['build_jobs']} "
                f"| {r['action_s']:.3f} | {r['action_jobs']} | {r['python_s']:.3f} "
                f"| {r['stages']} | {r['shuffle_write_mb']:.2f} "
                f"| {r['shuffle_read_mb']:.2f} | {r['spill_mb']:.2f} |"
            )
    if len(sf_dirs) == 2:
        a, b = sf_dirs
        in_ratio = dataset_bytes(b) / max(dataset_bytes(a), 1)
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
