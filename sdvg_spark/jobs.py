"""Generate-job orchestration: conflicts, force-clean, resume, progress.

The reference lifecycle (SURVEY.md §3 EP1, cli/commands/generate/
generate.go:37-174): parse/validate -> output setup (conflict check) ->
backup save or resume -> per-model generation -> teardown. Here each
model is one Spark write action; resume restarts at the exact row count
already on disk (pure index->value generation makes the skip O(1)).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

from sdvg_spark.backup import (
    ConflictError,
    check_output_conflicts,
    clean_outputs,
    config_diff,
    config_fingerprint,
    load_backup,
    load_checkpoint,
    rows_on_disk,
    save_backup,
    save_checkpoint,
)
from sdvg_spark.config.model import GenerationConfig, parse_config
from sdvg_spark.engine import Engine
from sdvg_spark.sinks import writers
from sdvg_spark.sinks.writers import _DISCARD  # noqa: F401  re-exported: devnull's consumer

ProgressFn = Callable[[str, float], None]


def run_generate(
    raw: dict[str, Any],
    *,
    spark: SparkSession | None = None,
    force: bool = False,
    continue_generation: bool = False,
    on_progress: ProgressFn | None = None,
) -> dict[str, str]:
    """Full generate lifecycle for a raw config dict; returns model->path.

    ``force`` cleans colliding outputs; ``continue_generation`` resumes
    an interrupted run — the config must be identical to the backed-up
    one (a recursive diff is reported otherwise), and each model
    restarts at the rows already present in its sink directory.
    """
    cfg: GenerationConfig = parse_config(raw)
    out = cfg.output
    file_sink = out.type in ("csv", "parquet")
    active = [m for name, m in cfg.models.items() if name not in cfg.models_to_ignore]
    resume_rows: dict[str, int] = {}

    if file_sink:
        conflicts = check_output_conflicts(out.dir, [m.model_dir for m in active])
        if continue_generation:
            bk = load_backup(out.dir)
            if bk is None:
                if conflicts:
                    # un-resumable state: partial output with no backup.
                    # Falling through would silently OVERWRITE it.
                    raise ConflictError(
                        "continue_generation requested but no backup.json "
                        "exists while the output dir holds previous results "
                        "(use force to discard them): " + ", ".join(conflicts)
                    )
            else:
                if bk.get("fingerprint") != config_fingerprint(raw):
                    diff = "\n".join(config_diff(bk.get("config", {}), raw))
                    raise ConflictError(
                        "config differs from the backed-up run; cannot resume:\n" + diff
                    )
                if cfg.seed_autogenerated and bk.get("resolved_seed"):
                    # resume an unseeded run with the seed the original
                    # run actually drew, not a fresh wall-clock one
                    cfg.random_seed = int(bk["resolved_seed"])
                for m in active:
                    # the checkpoint is the fast path (O(1) on restart);
                    # re-counting rows on disk is the fallback for runs
                    # that died before their first checkpoint commit. A
                    # checkpoint with no output dir behind it is stale
                    # (someone deleted the data) — fall back to counting.
                    mdir = os.path.join(out.dir, m.model_dir)
                    ck = load_checkpoint(out.dir, m.model_dir)
                    if ck is not None and os.path.isdir(mdir) and os.listdir(mdir):
                        resume_rows[m.name] = ck
                    else:
                        resume_rows[m.name] = rows_on_disk(
                            mdir,
                            out.type,
                            header=not out.without_headers,
                            delimiter=out.delimiter,
                        )
        elif conflicts:
            if not force:
                raise ConflictError(
                    "output dir contains previous results (use force or "
                    "continue_generation): " + ", ".join(conflicts)
                )
            clean_outputs(out.dir, [m.model_dir for m in active])
        save_backup(out.dir, raw, resolved_seed=cfg.random_seed)

    if spark is None:
        from sdvg_spark.session import get_spark

        spark = get_spark()

    eng = Engine(cfg)
    written: dict[str, str] = {}
    for m in active:
        total = m.generate_to - m.generate_from
        done = min(resume_rows.get(m.name, 0), total)
        if on_progress:
            on_progress(m.name, done / total if total else 1.0)
        if done >= total:
            written[m.name] = os.path.join(out.dir, m.model_dir)
            continue
        # checkpoint_rows > 0 slices the write into several jobs so a
        # long-running model commits resume points mid-run (the Spark
        # analogue of the reference's 5 s checkpoint ticker — one write
        # action is atomic, so the tick rides the slice boundary).
        step = out.checkpoint_rows if file_sink and out.checkpoint_rows > 0 else total
        start = m.generate_from + done
        # devnull and HTTP/TCS values never leave the task that makes
        # them: the write gets one record per task
        consumer = writers.task_consumer(m, out)
        while start < m.generate_to:
            end = min(start + step, m.generate_to)
            df = eng.model_df(spark, m.name, generate_from=start, generate_to=end,
                              consumer=consumer)
            mode = "append" if start > m.generate_from else "overwrite"
            # looked up on the module at call time, so a wrapped
            # write_model sees every sink's write
            written[m.name] = writers.write_model(spark, df, m, out, mode=mode)
            if file_sink:
                save_checkpoint(out.dir, m.model_dir, end - m.generate_from)
            start = end
            if on_progress:
                on_progress(m.name, (start - m.generate_from) / total if total else 1.0)
    return written
