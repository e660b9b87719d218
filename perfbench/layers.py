"""What each per-layer metric of the traced run should move: the
end-to-end metric and workload a change in the layer should show up in,
written down before any optimisation is measured against it. Names,
units and directions are in BENCHMARK.json; run.py refuses to run when
the two lists of names differ. Every traced run reports every metric; a
layer a workload does not reach reads 0.

The sink, jobs and backup figures come from the F7 parquet generate
that gen_devnull's traced run makes once (workloads.GenParquet); no
timed workload writes through the generate sinks, so they move no
end-to-end metric of this benchmark. Likewise the curate figures come
from one CLI curate, and its stages run one by one, in ops_suite's
traced run; the op queries share the text, dedup, sampling and corpus
modules with it.
"""

from __future__ import annotations

from perfbench.workloads import OPS_MODULES

_GEN = "rows_per_s @ gen_devnull"
_SPARK = "wall_s, query_geomean_s @ ops_suite"
_CURATE = "none timed: CLI curate probe in ops_suite's traced run"
_STAGE = "query_geomean_s @ ops_suite (the op queries share the module)"
_PARQUET = "none timed: F7 parquet probe in gen_devnull's traced run"
_SCALE = "none: what the Python-worker counters count (gen_devnull)"

MOVES: dict[str, str] = {
    "config.parse_s": "setup_s, cold_wall_s @ gen_devnull",
    "engine.plan_build_s": _GEN,
    "engine.kernel_columns": _GEN,
    "core.feistel_ns_per_row": _GEN,
    "core.frf_ns_per_row": _GEN,
    "generators.string_ns_per_value": _GEN,
    "generators.uuid_ns_per_value": _GEN,
    "generators.datetime_ns_per_value": _GEN,
    "generators.enum_ns_per_value": _GEN,
    "python.run_s": _GEN,
    "python.init_s": _GEN,
    "python.bytes_sent": _GEN,
    "python.bytes_returned": _GEN,
    "python.share": _GEN,
    "python.scale_small_init_s": _SCALE,
    "python.scale_large_init_s": _SCALE,
    "python.scale_small_run_s": _SCALE,
    "python.scale_large_run_s": _SCALE,
    **{f"spark.{k}": _SPARK for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "scheduler_delay_s", "input_bytes", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes")},
    "sinks.write_s": _PARQUET,
    "sinks.over_devnull_s": _PARQUET,
    "sinks.bytes_written": _PARQUET,
    "sinks.files_written": _PARQUET,
    "jobs.run_generate_s": _PARQUET,
    "jobs.overhead_s": _PARQUET,
    "jobs.write_calls": _PARQUET,
    "backup.save_s": _PARQUET,
    "out_bytes_per_row": "none timed: parquet bytes per row of the F7 probe (gen_devnull) "
                         "or the curate probe (ops_suite)",
    "ops.pipeline.build_s": _CURATE,
    "ops.pipeline.build_jobs": _CURATE,
    "ops.pipeline.action_s": _CURATE,
    "cli.post_write_jobs": _CURATE,
    "ops.text.features_s": _STAGE,
    "ops.dedup.minhash_pairs_s": _STAGE,
    "ops.dedup.pairs_out": _STAGE,
    "ops.dedup.components_s": _STAGE,
    "ops.sampling.split_s": _STAGE,
    "ops.corpus.pack_s": _STAGE,
    **{f"ops.{m}.{k}": "query_geomean_s, live_mb @ ops_suite"
       for m in OPS_MODULES for k in ("build_s", "action_s", "jobs", "shuffle_bytes", "python_s")},
    "peak_rss_mb": "none: live_mb is the bounded memory figure; this one follows G1's heap growth",
    "jvm.heap_resident_mb": "none: what live_mb leaves out of the JVM's resident memory",
    "jvm.heap_live_mb": "live_mb @ both workloads",
    "trace.overhead_s": "none",
    "trace.unattributed_jobs": "none: per-span jobs must sum to the run's",
    "trace.unattributed_tasks": "none: per-span tasks must sum to the run's",
    "trace.unattributed_shuffle_write_bytes": "none: must sum to the run's",
    "trace.unattributed_shuffle_read_bytes": "none: must sum to the run's",
}
