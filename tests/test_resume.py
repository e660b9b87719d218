"""Crash and resume of the file sinks. A write task is the unit of
commit: it marks its files written under ``<model>/_tasks/<t>/``, the
driver commits them after the job, and ``continue_generation`` reruns
only the unmarked tasks of the split the checkpoint recorded. Every
resumed run is compared, file by file, with an uninterrupted one."""

from __future__ import annotations

import glob
import hashlib
import os
import random
import time

import duckdb
import pytest

import sdvg_spark.jobs as jobs
import sdvg_spark.sinks.writers as W
from sdvg_spark.backup import load_checkpoint
from sdvg_spark.config.model import parse_config
from sdvg_spark.engine import Engine
from sdvg_spark.jobs import run_generate
from sdvg_spark.sinks import files

ROWS, BATCH, CHECKPOINT_ROWS = 2400, 50, 400
TASKS = ROWS // CHECKPOINT_ROWS  # above the 4 the rotation asks for
FORMATS = ("parquet", "csv")
NAME = {"parquet": "p", "csv": "c"}


def _int(name):
    return {"name": name, "type": "integer", "ordered": True,
            "type_params": {"bit_width": 64, "from": 1, "to": ROWS}}


def _raw(out, fmt, **output):
    if fmt == "parquet":
        model = {"rows_per_file": 150, "partition_columns": [{"name": "tag"}], "columns": [
            _int("k"),
            {"name": "d", "type": "integer", "parquet": {"encoding": "DELTA_BINARY_PACKED"},
             "type_params": {"bit_width": 32, "from": -5000, "to": 5000}},
            {"name": "tag", "type": "string", "values": ["a", "b", None]},
            {"name": "s", "type": "string", "type_params": {"min_length": 3, "max_length": 9}}]}
    else:
        model = {"rows_per_file": 250, "columns": [
            _int("k"),
            {"name": "f", "type": "float", "type_params": {"from": 0, "to": 10}},
            {"name": "t", "type": "datetime"}]}
    return {"random_seed": 11,
            "output": {"type": fmt, "dir": str(out), "checkpoint_rows": CHECKPOINT_ROWS, **output},
            "models": {NAME[fmt]: {"rows_count": ROWS, **model}}}


def _digest(d) -> dict[str, str]:
    """sha256 of every file under ``d``, by relative path."""
    out = {}
    for root, _dirs, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def small_batches(spark):
    """Several Arrow batches a task, so a crash can fall between them."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(BATCH))
    try:
        yield
    finally:
        spark.conf.set(key, before)


@pytest.fixture(scope="module")
def reference(spark, small_batches, tmp_path_factory):
    """The files of an uninterrupted run, per format."""
    out = {}
    for fmt in FORMATS:
        d = tmp_path_factory.mktemp(f"ref_{fmt}")
        run_generate(_raw(d, fmt), spark=spark)
        out[fmt] = _digest(d / NAME[fmt])
        assert out[fmt] and not any(p.startswith("_") for p in out[fmt])
        assert load_checkpoint(str(d), NAME[fmt]) == ROWS
        assert load_checkpoint(str(d), NAME[fmt], "tasks") is None
    return out


def _failing(task, after, tasks_dir="", wait_for=0):
    """A mapInArrow function that passes batches through, except in
    partition ``task``: it passes ``after`` batches, waits until
    ``wait_for`` tasks hold a mark under ``tasks_dir`` and fails."""

    def fail(batches):
        from pyspark import TaskContext

        if TaskContext.get().partitionId() != task:
            yield from batches
            return
        for i, b in enumerate(batches):
            if i == after:
                break
            yield b
        deadline = time.monotonic() + 60
        while len(glob.glob(f"{tasks_dir}/*")) < wait_for and time.monotonic() < deadline:
            time.sleep(0.05)
        raise RuntimeError("injected task failure")

    return fail


def _wrap_write(mp, fn):
    """Every write_model call writes ``df.mapInArrow(fn)`` instead of ``df``."""
    write_model = W.write_model

    def wrapped(spark, df, *a, **k):
        return write_model(spark, df.mapInArrow(fn, df.schema), *a, **k)

    mp.setattr(W, "write_model", wrapped)


def _crash(spark, mp, raw, fn):
    with mp.context() as m:
        _wrap_write(m, fn)
        with pytest.raises(Exception, match="injected task failure"):
            run_generate(raw, spark=spark)


def _resume(spark, mp, raw, ran_dir):
    """Resume; returns (the marks the resume found, the partitions that
    generated rows)."""
    seen = []
    marked_tasks = jobs.marked_tasks

    def spy(path):
        got = marked_tasks(path)
        seen.extend(got)
        return got

    def record(batches):
        from pyspark import TaskContext

        for i, b in enumerate(batches):
            if i == 0:
                os.makedirs(ran_dir, exist_ok=True)
                open(os.path.join(ran_dir, str(TaskContext.get().partitionId())), "w").close()
            yield b

    with mp.context() as m:
        m.setattr(jobs, "marked_tasks", spy)
        _wrap_write(m, record)
        run_generate(raw, spark=spark, continue_generation=True)
    ran = {int(t) for t in os.listdir(ran_dir)} if os.path.isdir(ran_dir) else set()
    return set(seen), ran


@pytest.mark.parametrize("seed", range(20))
def test_random_crash_resumes_to_the_uninterrupted_bytes(spark, tmp_path, monkeypatch,
                                                          reference, seed):
    rng = random.Random(seed)
    for fmt in FORMATS:
        out, name = tmp_path / fmt, NAME[fmt]
        raw = _raw(out, fmt)
        task, after = rng.randrange(TASKS), rng.randrange(ROWS // TASKS // BATCH + 1)
        _crash(spark, monkeypatch, raw, _failing(task, after))
        assert load_checkpoint(str(out), name, "tasks") == TASKS
        assert not glob.glob(f"{out}/{name}/**/{name}_*", recursive=True)
        seen, ran = _resume(spark, monkeypatch, raw, tmp_path / f"ran_{fmt}")
        assert task not in seen, (fmt, task, seen)
        assert ran == set(range(TASKS)) - seen, (fmt, task, after, seen)
        assert _digest(out / name) == reference[fmt], (fmt, task, after)
        assert load_checkpoint(str(out), name) == ROWS


@pytest.mark.parametrize("fmt", FORMATS)
def test_resume_finishes_a_commit_cut_after_k_moves(spark, tmp_path, monkeypatch, reference,
                                                    fmt):
    out, name = tmp_path, NAME[fmt]
    moves = files._moves

    def cut(*a):
        planned = list(moves(*a))
        yield from planned[: len(planned) // 2]
        raise RuntimeError("driver died mid-commit")

    with monkeypatch.context() as m:
        m.setattr(files, "_moves", cut)
        with pytest.raises(RuntimeError, match="mid-commit"):
            run_generate(_raw(out, fmt), spark=spark)
    half = len(reference[fmt]) // 2
    assert len(glob.glob(f"{out}/{name}/**/{name}_*", recursive=True)) == half
    seen, ran = _resume(spark, monkeypatch, _raw(out, fmt), tmp_path / "ran")
    assert seen == set(range(TASKS)) and ran == set()
    assert _digest(out / name) == reference[fmt]


def test_an_overwrite_commits_no_stale_mark(spark, tmp_path, small_batches):
    cfg = parse_config(_raw(tmp_path, "parquet"))
    m, eng = cfg.models["p"], Engine(cfg)
    # a failed write of other rows leaves the marks of its finished tasks
    stale = eng.model_df(spark, "p", generate_from=ROWS // 2, num_partitions=4)
    fail = _failing(3, 0, f"{tmp_path}/p/_tasks", wait_for=3)
    with pytest.raises(Exception, match="injected task failure"):
        W.write_model(spark, stale.mapInArrow(fail, stale.schema), m, cfg.output)
    assert len(os.listdir(tmp_path / "p" / "_tasks")) == 3
    fresh = eng.model_df(spark, "p", generate_to=ROWS // 2, num_partitions=4)
    W.write_model(spark, fresh, m, cfg.output)
    assert duckdb.sql(f"SELECT count(*), count(DISTINCT k), min(k), max(k) FROM "
                      f"read_parquet('{tmp_path}/p/**/*.parquet')").fetchone() == (
        ROWS // 2, ROWS // 2, 1, ROWS // 2)
    assert sorted(os.listdir(tmp_path / "p")) == ["tag=a", "tag=b", "tag=null"]


def test_resume_reruns_the_recorded_split(spark, tmp_path, monkeypatch, reference):
    raw = _raw(tmp_path, "parquet")
    _crash(spark, monkeypatch, raw, _failing(2, 3, f"{tmp_path}/p/_tasks", wait_for=2))
    # this resume's session would split the model another way
    monkeypatch.setattr(W, "file_tasks", lambda *a: TASKS - 1)
    seen, ran = _resume(spark, monkeypatch, raw, tmp_path / "ran")
    assert ran == set(range(TASKS)) - seen and 2 in ran
    assert _digest(tmp_path / "p") == reference["parquet"]


def test_zorder_model_resumes_whole(spark, tmp_path, monkeypatch, small_batches):
    raw = _raw(tmp_path, "parquet", zorder_by=["k", "d"])
    moves = files._moves

    def cut(*a):
        planned = list(moves(*a))
        yield from planned[:1]
        raise RuntimeError("driver died mid-commit")

    with monkeypatch.context() as m:
        m.setattr(files, "_moves", cut)
        with pytest.raises(RuntimeError, match="mid-commit"):
            run_generate(raw, spark=spark)
    assert os.listdir(tmp_path / "p" / "_tasks")
    assert len(glob.glob(f"{tmp_path}/p/**/p_*", recursive=True)) == 1
    run_generate(raw, spark=spark, continue_generation=True)
    assert duckdb.sql(f"SELECT count(*), count(DISTINCT k), min(k), max(k) FROM "
                      f"read_parquet('{tmp_path}/p/**/*.parquet')").fetchone() == (
        ROWS, ROWS, 1, ROWS)
    assert not os.path.exists(tmp_path / "p" / "_tasks")


def test_one_write_job_per_model(spark, tmp_path, monkeypatch):
    raw = _raw(tmp_path, "parquet")
    assert CHECKPOINT_ROWS < ROWS
    calls = []
    write_model = W.write_model
    monkeypatch.setattr(W, "write_model", lambda *a, **k: calls.append(1) or write_model(*a, **k))
    sc = spark.sparkContext
    group = f"one-write-job-{time.time_ns()}"
    sc.setJobGroup(group, "one write job per model")
    try:
        run_generate(raw, spark=spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed by the listener
    jobs_run = sc.statusTracker().getJobIdsForGroup(group)
    assert calls == [1] and len(jobs_run) == 1, jobs_run
    assert duckdb.sql(f"SELECT count(DISTINCT k) FROM "
                      f"read_parquet('{tmp_path}/p/**/*.parquet')").fetchone() == (ROWS,)
