"""Generate-job orchestration: conflicts, force-clean, resume, progress.

The reference lifecycle (SURVEY.md §3 EP1, cli/commands/generate/
generate.go:37-174): parse/validate -> output setup (conflict check) ->
backup save or resume -> per-model generation -> teardown. Here each
model is one Spark job. A file sink's write task is the unit of commit
(``sinks/files.py``): ``{model}.checkpoint`` records the task count
before the job, and resume reruns only the unmarked tasks, which pure
index->value generation makes write the same files.
"""

from __future__ import annotations

import functools
import os
import shutil
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
    save_backup,
    save_checkpoint,
)
from sdvg_spark.config.model import GenerationConfig, parse_config
from sdvg_spark.engine import Engine, task_range
from sdvg_spark.sinks import writers
from sdvg_spark.sinks.files import marked_tasks
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
    one (a recursive diff is reported otherwise), and each model runs
    the tasks its checkpoint's job left unmarked.
    """
    cfg: GenerationConfig = parse_config(raw)
    out = cfg.output
    file_sink = out.type in ("csv", "parquet")
    active = [m for name, m in cfg.models.items() if name not in cfg.models_to_ignore]
    resume: dict[str, tuple[int, int | None]] = {}

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
                    # a model starts over without a checkpoint, when its
                    # checkpoint has no output behind it (someone deleted
                    # the data), and if it is an unfinished zorder_by
                    # model, whose write tasks are range partitions, not
                    # generation tasks; no file of it may outlive a crash
                    # of its new job
                    mdir = os.path.join(out.dir, m.model_dir)
                    saved = load_checkpoint(out.dir, m.model_dir)
                    if saved is None or not os.path.isdir(mdir) or not os.listdir(mdir) or (
                            out.zorder_by and saved < m.generate_to - m.generate_from):
                        shutil.rmtree(mdir, ignore_errors=True)
                    else:
                        resume[m.name] = saved, load_checkpoint(out.dir, m.model_dir, "tasks")
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
        saved, tasks = resume.get(m.name, (0, None))
        lo, hi = m.generate_from + min(saved, total), m.generate_to
        path = os.path.join(out.dir, m.model_dir)
        marked = marked_tasks(path) if tasks else []
        if on_progress:
            done = lo - m.generate_from + sum(len(task_range(lo, hi, tasks, t)) for t in marked)
            on_progress(m.name, done / total if total else 1.0)
        if lo >= hi:
            written[m.name] = path
            continue
        sink = {}
        if file_sink:
            tasks = tasks or writers.file_tasks(spark, m, out, hi - lo)
            save_checkpoint(out.dir, m.model_dir, lo - m.generate_from, tasks)
            # append keeps the committed rows and the marks; saved_rows
            # advances once every file is in place, so it never over-reports
            sink = {"mode": "append" if lo > m.generate_from or marked else "overwrite",
                    "task_ids": functools.partial(task_range, lo, hi, tasks),
                    "committed": functools.partial(save_checkpoint, out.dir, m.model_dir, total)}
        # devnull and HTTP/TCS values never leave the task that makes
        # them: the write gets one record per task
        df = eng.model_df(spark, m.name, generate_from=lo, num_partitions=tasks,
                          consumer=writers.task_consumer(m, out),
                          tasks=[t for t in range(tasks) if t not in marked] if marked else None)
        # looked up on the module at call time, so a wrapped
        # write_model sees every sink's write
        written[m.name] = writers.write_model(spark, df, m, out, **sink)
        if on_progress:
            on_progress(m.name, 1.0)
    return written
