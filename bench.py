"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints a diagnostics JSON line ({"bench_diagnostics": ...} — per-query
raw runs and minima) followed by the final contract JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "extra": {...scalars...}}
The contract line is LAST and kept compact so a consumer that retains
only a bounded tail of stdout can still parse it.

Two benchmark families:
* generation throughput — the engine's reason to exist: a mixed-type
  model (the reference's bench column mix, bench_test.go:95-415) at
  2M rows through the feistel (100 TB-path) permutation, devnull sink.
* data-pipeline + analytics queries at the given scale factor.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

GEN_BENCH_ROWS = 2_000_000

GEN_BENCH_CFG = {
    "random_seed": 42,
    "permutation": "feistel",
    "models": {
        "bench": {
            "rows_count": GEN_BENCH_ROWS,
            "columns": [
                {"name": "i64", "type": "integer", "type_params": {"bit_width": 64}},
                {"name": "i32_ord", "type": "integer", "type_params": {"bit_width": 32, "from": 0, "to": 2_000_000}, "ordered": True},
                {"name": "f64", "type": "float", "type_params": {"bit_width": 64, "from": 0, "to": 1}},
                {"name": "dt", "type": "datetime"},
                {"name": "enum", "type": "string", "values": ["a", "b", "c", "d", "e"]},
                {"name": "uuid", "type": "uuid"},
                {"name": "s8", "type": "string", "type_params": {"min_length": 8, "max_length": 8}},
                {"name": "mix", "type": "integer", "ranges": [
                    {"type_params": {"bit_width": 32, "from": 0, "to": 100}, "range_percentage": 0.5},
                    {"type_params": {"bit_width": 32, "from": 1000, "to": 2000}, "range_percentage": 0.3},
                    {"type_params": {"bit_width": 32, "from": 10**6, "to": 10**7}, "range_percentage": 0.2, "ordered": True}]},
            ],
        }
    },
}


# The headline query list: bench.py times these, and tools/dump_plans.py
# and tools/shuffle_report.py default to them.
BENCH_QUERIES = [
    "text_features",
    "dedup_minhash",
    "dedup_simhash",
    "ann_topk",
    "ann_lsh",
    "ann_ivf",
    "ann_ivf_index",
    "ann_quantized",
    "pricing_summary",
    "top_revenue",
    "events_sessionize",
    "user_running_value",
    "skew_salted_agg",
    "data_split",
    "corpus_vocab",
    "decontaminate",
    "pack_sequences",
    "curate",
    "events_asof",
    "events_range_join",
    "events_rollup",
    "events_gapfill",
    "events_percentiles",
    "dedup_semantic",
    "tfidf_keywords",
    "doc_chunks",
    "corpus_mix",
    "dedup_incremental",
    "stratified_sample",
    "duplicate_spans",
    "unigram_nll",
    "repetition_features",
    "events_funnel",
    "events_retention",
    "collocations",
    "token_divergence",
    "quality_band",
    "zipf_fit",
    "url_dedup",
    "language_confidence",
    "paragraph_dedup",
    "pack_order",
]


def calibrate_cpu() -> float:
    """Fixed single-thread numpy microbench (frf kernel on 1e8 u64) so a
    host-speed change is visible in the report instead of masquerading
    as a code regression: compare `calibration_sec` across rounds before
    comparing query times."""
    import numpy as np

    from sdvg_spark.core.rng import frf_np

    x = np.arange(100_000_000, dtype=np.uint64)
    frf_np(x[:1_000_000])  # warm caches / lazy imports
    t0 = time.time()
    frf_np(x)
    return round(time.time() - t0, 3)


_FLOOR_X = None


def calib_floor_probe() -> float:
    """Per-query host-noise floor: the same frf kernel on 1e6 u64
    (~4 ms quiet, 10x+ under a co-tenant burst). Run before each query
    rep so a contended window is visible NEXT TO the query it
    distorted — r11's adjudication had to reconstruct this from
    session logs (19 spurious >10% "regressions" on untouched code
    were all host drift). Diagnostics-line only; the contract line is
    unchanged."""
    import numpy as np

    from sdvg_spark.core.rng import frf_np

    global _FLOOR_X
    if _FLOOR_X is None:
        _FLOOR_X = np.arange(1_000_000, dtype=np.uint64)
    t0 = time.time()
    frf_np(_FLOOR_X)
    return round(time.time() - t0, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    import __spark_entry__ as E
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine
    from sdvg_spark.session import get_spark

    spark = get_spark(app_name="sdvg-bench", master=f"local[{cpus}]")
    times: dict[str, float] = {}
    extra: dict = {}
    runs: dict[str, list[float]] = {}

    extra["calibration_sec"] = calibrate_cpu()

    # -- generation throughput (devnull sink = count action) ----------------
    cfg = parse_config(GEN_BENCH_CFG)
    eng = Engine(cfg)
    # Protocol mirrors the reference CI (Makefile:22-23): Go's testing.B
    # loops the op and excludes setup, so we compile + warm on run 1 and
    # report the median of 3 steady-state runs (not codegen latency, not
    # a single sample a noisy host can distort).
    df = eng.model_df(spark, "bench", num_partitions=int(cpus) * 2)
    df.write.format("noop").mode("overwrite").save()
    gruns = []
    for _ in range(3):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        gruns.append(round(time.time() - t0, 3))
    dt = statistics.median(gruns)
    runs["generate_mixed_2m"] = gruns
    times["generate_mixed_2m"] = round(dt, 3)
    extra["gen_rows_per_s"] = round(GEN_BENCH_ROWS / dt)
    extra["gen_values_per_s"] = round(GEN_BENCH_ROWS * 8 / dt)

    # scale point: the same mix at 10x rows (outside the headline sum).
    # 2M-row jobs are overhead-bound (every column type measures ~0.8s
    # solo); per-row cost falls with row count, and this records it.
    big_cfg = dict(GEN_BENCH_CFG)
    big_cfg["models"] = {
        "bench": {**GEN_BENCH_CFG["models"]["bench"], "rows_count": GEN_BENCH_ROWS * 10}
    }
    bdf = Engine(parse_config(big_cfg)).model_df(
        spark, "bench", num_partitions=int(cpus) * 4
    )
    t0 = time.time()
    bdf.write.format("noop").mode("overwrite").save()
    bdt = time.time() - t0
    extra["gen20m_sec"] = round(bdt, 3)
    extra["gen20m_values_per_s"] = round(GEN_BENCH_ROWS * 10 * 8 / bdt)

    # -- pipeline + analytics at sf ----------------------------------------
    # shuffle partitions sized to this scale point's input (no-op at
    # sf0.1 where the floor is the CPU count; prevents the sf10 spill)
    from sdvg_spark.session import scale_shuffle_partitions

    extra["shuffle_partitions"] = scale_shuffle_partitions(spark, sf_dir)
    # warm the scan path (parquet reader init, codegen infra) so the
    # first query doesn't absorb session boot costs
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    qs = E.queries()
    floors: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        # three full runs (construction + action: some operators do
        # their heavy work while building the DataFrame); report the
        # median so one noisy sample can't swing the round-over-round
        # comparison. Run 1 still absorbs codegen warmup — the median
        # discounts it when the other two agree.
        samples = []
        fl = []
        for _ in range(3):
            # each rep starts from an empty cache: a rep must not read
            # what an earlier rep of the same query persisted
            spark.catalog.clearCache()
            fl.append(calib_floor_probe())
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        runs[name] = samples
        floors[name] = fl
        times[name] = round(statistics.median(samples), 3)

    extra["runs"] = runs
    # per-rep host-noise floor (see calib_floor_probe): a rep whose
    # floor reads several times the session minimum was contended —
    # discount its sample before calling a cross-round regression
    extra["calib_floor"] = floors
    # noise-robust summary: this host's co-tenant contention swings
    # byte-identical back-to-back runs up to 5x (measured 1.357 /
    # 4.521 / 7.174 s for the SAME generation plan in one session —
    # see BASELINE.md "Host-noise adjudication"). The median keeps
    # round-over-round continuity; the min is the best estimate of
    # the true (uncontended) cost and is what cross-round comparisons
    # should use when calibration_sec differs between rounds.
    extra["queries_min"] = {k: min(v) for k, v in runs.items()}
    # host-noise-normalized generation figure: gen seconds per
    # calibration second (single-thread frf kernel). Imperfect — gen is
    # 32-way parallel, calibration single-threaded, and contention hits
    # them differently — but a large calibration_sec flags a contended
    # window outright.
    if extra["calibration_sec"] > 0:
        extra["gen2m_per_calib"] = round(
            times["generate_mixed_2m"] / extra["calibration_sec"], 3
        )
    for line in emit_lines(times, sf, extra):
        print(line)
    spark.stop()


def emit_lines(times: dict, sf: float, extra: dict) -> list[str]:
    """The two stdout JSON lines: diagnostics first, contract line LAST.

    The driver keeps only the tail of stdout and parses the LAST JSON
    line. From r05 on, per-query `runs` grew the single line past that
    tail window and the driver recorded parsed=null every round (see
    BENCH_r05..r10.json vs r01..r04). Measurement fix (documented in
    OPTIMIZATION_r11.md): the bulky diagnostics go on their OWN earlier
    line; the final contract line keeps the same schema — metric /
    value / unit / queries / sf / extra — with extra reduced to its
    scalar fields so the line stays well under the tail window.
    """
    total = round(sum(times.values()), 3)
    extra_scalar = {k: v for k, v in extra.items() if not isinstance(v, dict)}
    return [
        json.dumps({"bench_diagnostics": extra}),
        json.dumps(
            {
                "metric": "wall-clock of headline queries (generation 2M rows feistel + pipeline ops + analytics)",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "extra": extra_scalar,
            }
        ),
    ]


if __name__ == "__main__":
    main()
