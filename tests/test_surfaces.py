"""CLI, HTTP API, resume/backup, config synthesis."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

import duckdb
import pytest

from sdvg_spark.config.model import ConfigError, parse_config


def _raw_cfg(tmp, rows=400):
    return {
        "random_seed": 3,
        "output": {"type": "parquet", "dir": str(tmp)},
        "models": {
            "t": {
                "rows_count": rows,
                "columns": [
                    {"name": "k", "type": "integer",
                     "type_params": {"bit_width": 64, "from": 1, "to": rows}, "ordered": True},
                    {"name": "v", "type": "float", "type_params": {"from": 0, "to": 1}},
                ],
            }
        },
    }


# ---------------------------------------------------------------------------
# backup / resume


def test_conflict_detection(spark, tmp_path):
    from sdvg_spark.backup import ConflictError
    from sdvg_spark.jobs import run_generate

    raw = _raw_cfg(tmp_path / "o")
    run_generate(raw, spark=spark)
    with pytest.raises(ConflictError):
        run_generate(raw, spark=spark)
    # force cleans and regenerates
    run_generate(raw, spark=spark, force=True)


def _fail_task(failing, tasks_dir, others):
    """A mapInArrow function that fails partition ``failing`` once
    ``others`` tasks hold a mark under ``tasks_dir``."""

    def fail(batches):
        from pyspark import TaskContext

        if TaskContext.get().partitionId() == failing:
            deadline = time.monotonic() + 60
            while len(os.listdir(tasks_dir) if os.path.isdir(tasks_dir) else []) < others:
                if time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            raise RuntimeError("injected task failure")
        yield from batches

    return fail


def _crashed_run(spark, monkeypatch, raw, failing, others):
    """run_generate with one write task failing after ``others`` tasks
    marked their files written."""
    from sdvg_spark.jobs import run_generate
    from sdvg_spark.sinks import writers

    write_model = writers.write_model
    fail = _fail_task(failing, os.path.join(raw["output"]["dir"], "t", "_tasks"), others)
    with monkeypatch.context() as m:
        m.setattr(writers, "write_model",
                  lambda spark, df, *a, **k: write_model(spark, df.mapInArrow(fail, df.schema),
                                                         *a, **k))
        with pytest.raises(Exception, match="injected task failure"):
            run_generate(raw, spark=spark)


def test_resume_appends_missing_rows(spark, tmp_path, monkeypatch):
    from sdvg_spark.jobs import run_generate

    out = tmp_path / "r"
    full = _raw_cfg(out, rows=400)
    full["output"]["checkpoint_rows"] = 100  # four write tasks

    # an interrupted run: the last task fails after the other three
    # committed their files to their marks
    _crashed_run(spark, monkeypatch, full, failing=3, others=3)

    progress = []
    run_generate(
        full,
        spark=spark,
        continue_generation=True,
        on_progress=lambda m, f: progress.append((m, f)),
    )
    con = duckdb.connect()
    n, distinct, kmax = con.execute(
        f"SELECT count(*), count(DISTINCT k), max(k) FROM read_parquet('{out}/t/*.parquet')"
    ).fetchone()
    assert (n, distinct, kmax) == (400, 400, 400)
    # first progress call reports the resume point: the marked tasks' rows
    assert progress[0] == ("t", 300 / 400)


def test_resume_rejects_changed_config(spark, tmp_path):
    from sdvg_spark.backup import ConflictError
    from sdvg_spark.jobs import run_generate

    raw = _raw_cfg(tmp_path / "rc")
    run_generate(raw, spark=spark)
    changed = json.loads(json.dumps(raw))
    changed["random_seed"] = 99
    with pytest.raises(ConflictError, match="random_seed"):
        run_generate(changed, spark=spark, continue_generation=True)


def test_resume_skips_complete_model(spark, tmp_path):
    from sdvg_spark.jobs import run_generate

    raw = _raw_cfg(tmp_path / "done")
    run_generate(raw, spark=spark)
    before = os.stat(glob_one(f"{tmp_path}/done/t")).st_mtime
    run_generate(raw, spark=spark, continue_generation=True)
    assert os.stat(glob_one(f"{tmp_path}/done/t")).st_mtime == before


def glob_one(d):
    import glob

    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    assert files
    return files[0]


# ---------------------------------------------------------------------------
# CLI


def test_cli_validate_and_generate(spark, tmp_path):
    from sdvg_spark.cli import main

    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(_raw_cfg(tmp_path / "cli_out", rows=100)))
    assert main(["validate-config", str(cfg_path)]) == 0
    assert main(["generate", str(cfg_path)]) == 0
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/cli_out/t/*.parquet')"
    ).fetchone()
    assert n == 100
    # re-run without force -> conflict exit code
    assert main(["generate", str(cfg_path)]) == 2
    assert main(["generate", "--force", str(cfg_path)]) == 0


def test_cli_validate_rejects_bad(tmp_path):
    from sdvg_spark.cli import main

    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"models": {"m": {"rows_count": 1, "columns": [
        {"name": "x", "type": "nope"}]}}}))
    assert main(["validate-config", str(bad)]) == 1


# ---------------------------------------------------------------------------
# config synthesis


def test_ddl_to_config_fk_and_pk():
    from sdvg_spark.config_synth import ddl_to_config

    raw = ddl_to_config(
        """
        CREATE TABLE users (
          id BIGINT PRIMARY KEY,
          name VARCHAR(40),
          score DOUBLE,
          created TIMESTAMP
        );
        CREATE TABLE orders (
          order_id BIGINT PRIMARY KEY,
          user_id BIGINT REFERENCES users(id),
          amount DECIMAL(10,2)
        );
        """
    )
    cfg = parse_config(raw)  # must already be valid
    users = raw["models"]["users"]["columns"]
    byname = {c["name"]: c for c in users}
    assert byname["id"]["type"] == "integer" and byname["id"]["ordered"]
    assert byname["id"]["distinct_percentage"] == 1.0
    assert byname["name"]["type_params"]["max_length"] == 40
    assert byname["created"]["type"] == "datetime"
    orders = {c["name"]: c for c in raw["models"]["orders"]["columns"]}
    assert orders["user_id"] == {"name": "user_id", "foreign_key": "users.id"}
    assert cfg.models["orders"].column("user_id").fk_model == "users"


def test_ddl_table_level_fk():
    from sdvg_spark.config_synth import ddl_to_config

    raw = ddl_to_config(
        """
        CREATE TABLE a (x INT PRIMARY KEY);
        CREATE TABLE b (
          y INT,
          FOREIGN KEY (y) REFERENCES a(x)
        );
        """
    )
    assert raw["models"]["b"]["columns"][0] == {"name": "y", "foreign_key": "a.x"}


def test_sample_to_config():
    from sdvg_spark.config_synth import sample_to_config

    raw = sample_to_config(
        "id,score,tag,when\n"
        "1,0.5,a,2021-01-01T00:00:00\n"
        "2,1.5,b,2021-06-01T12:00:00\n"
        "3,2.5,a,2022-01-01T00:00:00\n"
    )
    cols = {c["name"]: c for c in raw["models"]["sample"]["columns"]}
    assert cols["id"]["type"] == "integer" and cols["id"]["ordered"]
    assert cols["score"]["type"] == "float"
    assert cols["tag"]["values"] == ["a", "b"]
    assert cols["when"]["type"] == "datetime"
    parse_config(raw)


def test_describe_to_config_validator_loop():
    from sdvg_spark.config_synth import describe_to_config

    bad = json.dumps({"models": {"m": {"rows_count": 5, "columns": [
        {"name": "x", "type": "decimal"}]}}})
    good = json.dumps({"random_seed": 1, "models": {"m": {"rows_count": 5, "columns": [
        {"name": "x", "type": "integer"}]}}})
    calls = []

    def fake_chat(messages):
        calls.append(list(messages))
        return bad if len(calls) == 1 else good

    raw = describe_to_config("five rows with one integer", chat=fake_chat)
    assert raw["models"]["m"]["columns"][0]["type"] == "integer"
    assert len(calls) == 2
    # the retry prompt carried the validation error back
    assert "failed validation" in calls[1][-1]["content"]


def test_describe_to_config_gives_up():
    from sdvg_spark.config_synth import describe_to_config

    with pytest.raises(ConfigError, match="3 attempts"):
        describe_to_config("x", chat=lambda m: "not json at all", max_attempts=3)


# ---------------------------------------------------------------------------
# HTTP API


@pytest.fixture()
def api(spark, tmp_path):
    from sdvg_spark.server import make_server

    srv = make_server(
        host="127.0.0.1",
        port=0,
        output_root=str(tmp_path / "srv"),
        spark_factory=lambda: spark,
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_api_validate(api):
    code, _ = _post(f"{api}/validate-config", {"models": {"m": {
        "rows_count": 5, "columns": [{"name": "x", "type": "integer"}]}}})
    assert code == 200
    code, body = _post(f"{api}/validate-config", {"models": {"m": {
        "rows_count": 5, "columns": [{"name": "x", "type": "nope"}]}}})
    assert code == 400 and "not valid" in body


def test_api_generate_and_status(api, tmp_path):
    cfg = {"random_seed": 5, "output": {"type": "parquet"}, "models": {"m": {
        "rows_count": 300,
        "columns": [{"name": "x", "type": "integer",
                     "type_params": {"from": 0, "to": 100}}]}}}
    code, task_id = _post(f"{api}/generate", cfg)
    assert code == 200 and len(task_id) == 36
    deadline = time.time() + 120
    status = None
    while time.time() < deadline:
        with urllib.request.urlopen(f"{api}/status/{task_id}") as r:
            status = json.loads(r.read())
        if status["status"] in ("done", "failed"):
            break
        time.sleep(0.5)
    assert status is not None and status["status"] == "done", status
    assert status["progress"]["m"] == 100.0
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/srv/{task_id}/m/*.parquet')"
    ).fetchone()
    assert n == 300


def test_api_status_unknown(api):
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(f"{api}/status/nope")
    assert e.value.code == 404


def test_api_generate_config(api):
    code, body = _post(
        f"{api}/generate-config",
        {"mode": "sql-query", "input": "CREATE TABLE t (a INT, b VARCHAR(8));"},
    )
    assert code == 200
    raw = json.loads(body)
    assert "t" in raw["models"]


def test_continue_without_backup_but_dirty_output_refuses(spark, tmp_path):
    """continue_generation + missing backup.json + non-empty output must
    error, not silently overwrite the partial output."""
    from sdvg_spark.backup import ConflictError, backup_path
    from sdvg_spark.jobs import run_generate

    out = tmp_path / "nb"
    raw = _raw_cfg(out)
    run_generate(raw, spark=spark)
    os.remove(backup_path(str(out)))
    with pytest.raises(ConflictError, match="no backup.json"):
        run_generate(raw, spark=spark, continue_generation=True)
    # force still wins
    run_generate(raw, spark=spark, force=True)


def test_csv_headerless_resume_counts_rows_exactly(spark, tmp_path):
    """without_headers CSV resume must not sniff the first data row as a
    header (that would regenerate row 1 of every file on resume)."""
    from sdvg_spark.jobs import run_generate

    out = tmp_path / "hl"
    raw = {
        "random_seed": 3,
        "output": {"type": "csv", "dir": str(out), "without_headers": True},
        "models": {
            "t": {
                "rows_count": 200,
                "columns": [
                    # all-string payload: exactly what header sniffing misreads
                    {"name": "a", "type": "string", "type_params": {"min_length": 4, "max_length": 8}},
                    {"name": "b", "type": "string", "type_params": {"logical_type": "first_name"}},
                ],
            }
        },
    }
    partial = json.loads(json.dumps(raw))
    partial["models"]["t"]["generate_to"] = 120
    run_generate(partial, spark=spark)
    from sdvg_spark.backup import save_backup

    save_backup(str(out), raw)
    run_generate(raw, spark=spark, continue_generation=True)
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_csv('{out}/t/*.csv', header=false, all_varchar=true)"
    ).fetchone()
    assert n == 200


def test_unseeded_config_draws_wall_clock_seed_and_resume_reuses_it(spark, tmp_path):
    """random_seed omitted/0 = wall-clock seed (reference semantics);
    the resolved seed is recorded in backup.json so resume continues the
    same stream instead of drawing a new one."""
    from sdvg_spark.backup import load_backup, save_backup
    from sdvg_spark.jobs import run_generate

    out = tmp_path / "ws"
    raw = _raw_cfg(out)
    del raw["random_seed"]
    assert parse_config(raw).random_seed != 0
    assert parse_config(raw).seed_autogenerated

    partial = json.loads(json.dumps(raw))
    partial["models"]["t"]["generate_to"] = 150
    run_generate(partial, spark=spark)
    seed0 = load_backup(str(out))["resolved_seed"]
    assert seed0 != 0
    save_backup(str(out), raw, resolved_seed=seed0)
    run_generate(raw, spark=spark, continue_generation=True)
    # the appended rows came from the SAME seed: v is a pure function of
    # (seed, id), so all 400 k values are distinct and v has no dupes
    # beyond chance; cheapest strong check = rerun with explicit seed0
    explicit = json.loads(json.dumps(raw))
    explicit["random_seed"] = seed0
    explicit["output"]["dir"] = str(tmp_path / "ws2")
    run_generate(explicit, spark=spark)
    con = duckdb.connect()
    a = con.execute(f"SELECT k, v FROM read_parquet('{out}/t/*.parquet') ORDER BY k").fetchall()
    b = con.execute(f"SELECT k, v FROM read_parquet('{tmp_path}/ws2/t/*.parquet') ORDER BY k").fetchall()
    assert a == b


def test_checkpointed_resume_skips_output_scan(spark, tmp_path, monkeypatch):
    """Kill-and-resume via {model}.checkpoint: restart must read the
    checkpoint and the task marks, never the output (O(output) on a
    10-hour job). Parquet footers and DuckDB are poisoned to prove it."""
    from sdvg_spark import plan_stats
    from sdvg_spark.backup import load_checkpoint
    from sdvg_spark.jobs import run_generate

    out = tmp_path / "ck"
    raw = _raw_cfg(out, rows=400)
    raw["output"]["checkpoint_rows"] = 100  # four write tasks in one job
    _crashed_run(spark, monkeypatch, raw, failing=1, others=2)
    assert load_checkpoint(str(out), "t") == 0
    assert load_checkpoint(str(out), "t", "tasks") == 4

    def boom(*a, **k):
        raise AssertionError("resume read the output instead of the checkpoint")

    with monkeypatch.context() as m:
        m.setattr(plan_stats, "footers", boom)
        m.setattr(duckdb, "connect", boom)
        m.setattr(duckdb, "sql", boom)
        run_generate(raw, spark=spark, continue_generation=True)
    assert load_checkpoint(str(out), "t") == 400
    con = duckdb.connect()
    n, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT k) FROM read_parquet('{out}/t/*.parquet')"
    ).fetchone()
    assert (n, distinct) == (400, 400)


def test_stale_checkpoint_with_deleted_output_recounts(spark, tmp_path):
    import shutil

    from sdvg_spark.backup import load_checkpoint
    from sdvg_spark.jobs import run_generate

    out = tmp_path / "stale"
    raw = _raw_cfg(out, rows=300)
    run_generate(raw, spark=spark)
    assert load_checkpoint(str(out), "t") == 300
    shutil.rmtree(out / "t")  # user nuked the data, checkpoint remains
    run_generate(raw, spark=spark, continue_generation=True)
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/t/*.parquet')"
    ).fetchone()
    assert n == 300


# ---------------------------------------------------------------------------
# CLI progress bars + interactive config


def test_progress_bar_tty_and_pipe_modes():
    import io

    from sdvg_spark.cli import ProgressBar

    tty = io.StringIO()
    bar = ProgressBar(stream=tty, isatty=True)
    bar.update("users", 0.0)
    bar.update("users", 0.5)
    bar.update("users", 1.0)
    out = tty.getvalue()
    assert "\r" in out and "#" * 16 in out and "100.0%" in out
    assert out.endswith("\n")  # completed bar closes its line

    pipe = io.StringIO()
    bar = ProgressBar(stream=pipe, isatty=False)
    bar.update("users", 0.25)
    assert pipe.getvalue().count("\n") == 1  # line mode, no \r redraws
    assert "\r" not in pipe.getvalue()


def test_interactive_config_builds_valid_config(tmp_path):
    from sdvg_spark.cli import interactive_config

    answers = iter(
        [
            "7",          # seed
            "parquet",    # output type
            str(tmp_path / "o"),  # output dir
            "user",       # model name
            "500",        # rows
            "uid",        # column
            "",           # no fk
            "integer",    # type
            "1", "500",   # from/to
            "name",       # column
            "",           # no fk
            "string",     # type
            "first_name", # logical
            "",           # end columns
            "order",      # model 2
            "800",
            "user_id",
            "user.uid",   # fk
            "",           # end columns
            "",           # end models
        ]
    )
    raw = interactive_config(ask=lambda prompt: next(answers), say=lambda *a: None)
    assert set(raw["models"]) == {"user", "order"}
    assert raw["random_seed"] == 7
    assert raw["models"]["order"]["columns"][0]["foreign_key"] == "user.uid"
    parse_config(raw)  # validates


def test_cli_generate_config_interactive(tmp_path, monkeypatch, capsys):
    import builtins

    from sdvg_spark.cli import main

    answers = iter(["3", "devnull", "m", "100", "x", "", "integer", "0", "9", "", ""])
    monkeypatch.setattr(builtins, "input", lambda prompt="": next(answers))
    out_file = tmp_path / "cfg.json"
    assert main(["generate-config", "interactive", "-o", str(out_file)]) == 0
    raw = json.loads(out_file.read_text())
    assert raw["models"]["m"]["rows_count"] == 100


def test_cli_curate(spark, tmp_path, capsys):
    """The curate subcommand: parquet corpus in -> disposition parquet
    out, with CLI knobs mapped onto CurationConfig, and a summary line
    counted from the written output."""
    import duckdb

    from sdvg_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "the cat and the dog sat on the mat with the hat"),
         (2, "the cat and the dog sat on the mat with the hat"),
         (3, "qqq zzz xxx vvv kkk jjj hhh www yyy ggg fff ddd")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    out = str(tmp_path / "disp")
    rc = main([
        "curate", src, out, "--min-quality", "0", "--split", "train=1.0",
        "--pack-budget", "8",
    ])
    assert rc == 0
    assert f"curated 3 docs -> 1 kept ({out})" in capsys.readouterr().out
    rows = {r[0]: r[1] for r in duckdb.sql(
        f"SELECT doc_id, drop_reason FROM '{out}/*.parquet'").fetchall()}
    assert rows[1] is None          # keeper
    assert rows[2] == "duplicate"   # exact dup drops
    assert rows[3] == "lang"


def test_generated_corpus_flows_through_curation(spark):
    """The product story in one test: the reference-parity GENERATOR
    produces a corpus, the beyond-parity PIPELINE curates it — no
    parquet round-trip needed, both halves are plain DataFrames."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine
    from sdvg_spark.ops.pipeline import CurationConfig, curate

    cfg = parse_config({
        "random_seed": 3,
        "models": {
            "corpus": {
                "rows_count": 1200,
                "columns": [
                    {"name": "doc_id", "type": "integer",
                     "type_params": {"bit_width": 64, "from": 0, "to": 1199},
                     "ordered": True},
                    {"name": "text", "type": "string",
                     "type_params": {"logical_type": "text",
                                     "min_length": 40, "max_length": 200}},
                ],
            }
        },
    })
    docs = Engine(cfg).model_df(spark, "corpus")
    out = curate(
        docs,
        CurationConfig(lang="en", min_quality=0.0, dedup_threshold=0.5,
                       split={"train": 0.9, "val": 0.1}, pack_budget=512),
    )
    rows = out.collect()
    assert len(rows) == 1200  # one disposition per generated doc
    kept = [r for r in rows if r.keep]
    dropped = [r for r in rows if not r.keep]
    assert len(kept) + len(dropped) == 1200
    assert all(r.drop_reason in ("lang", "quality", "duplicate") for r in dropped)
    # every kept doc got the full downstream treatment
    assert all(r.redacted_fp is not None and r.split in ("train", "val")
               and r.pack_id is not None for r in kept)
    assert len(kept) > 0
