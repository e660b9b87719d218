"""The file sinks' Arrow writer: Spark-compatible partition directory
names, parquet encodings, millisecond timestamps, rotation, the per-job
commit (parquet and CSV) and the session it leaves behind. Read back
with DuckDB, pyarrow and Spark's own hive-partitioned reader."""

from __future__ import annotations

import glob
import os
import time

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sdvg_spark import plan_stats
from sdvg_spark.backup import save_backup
from sdvg_spark.config.model import parse_config
from sdvg_spark.engine import Engine
from sdvg_spark.jobs import run_generate
from sdvg_spark.sinks.writers import write_model


def _int(name, rows):
    return {"name": name, "type": "integer",
            "type_params": {"bit_width": 64, "from": 1, "to": rows}, "ordered": True}


def _raw(out, models, **output):
    return {"random_seed": 5, "output": {"type": "parquet", "dir": str(out), **output},
            "models": models}


def test_partition_directory_names_match_spark(spark, tmp_path):
    # the names Spark's writer gave these keys (cast to string, then
    # escapePathName), taken from the parquet sink before it moved to Arrow
    raw = _raw(tmp_path, {
        "fm": {"rows_count": 300, "partition_columns": [{"name": "f"}], "columns": [
            _int("id", 300),
            {"name": "f", "type": "float", "distinct_count": 4, "type_params": {
                "bit_width": 64, "from": 1, "to": 3.4028234663852886e38}}]},
        "tm": {"rows_count": 300, "partition_columns": [{"name": "t"}], "columns": [
            _int("id", 300),
            {"name": "t", "type": "datetime", "distinct_count": 4, "type_params": {
                "from": "2002-02-27T00:00:00Z", "to": "2010-03-20T00:00:00Z"}}]},
    })
    run_generate(raw, spark=spark)
    assert sorted(os.listdir(tmp_path / "fm")) == [
        "f=1.4982230002876466E38", "f=1.785032907123458E38",
        "f=3.0173996129343158E38", "f=5.099606999580654E37"]
    assert sorted(os.listdir(tmp_path / "tm")) == [
        "t=2003-11-17 09%3A15%3A48", "t=2005-03-03 00%3A18%3A30",
        "t=2007-11-11 20%3A24%3A24", "t=2009-02-01 19%3A24%3A35"]
    eng = Engine(parse_config(raw))
    for m, key in (("fm", "f"), ("tm", "t")):
        want = eng.model_df(spark, m)
        if m == "fm":
            want = want.select("id", F.round(key, 2).alias(key))
        # Spark infers these float keys as strings; they parse back exactly
        back = spark.read.parquet(str(tmp_path / m)).select(
            "id", F.col(key).cast(dict(want.dtypes)[key]))
        assert sorted(back.collect()) == sorted(want.collect())


def test_escape_matches_spark(spark):
    from sdvg_spark.sinks.files import _escape

    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    s = "".join(map(chr, range(1, 256))) + "é日 "
    assert _escape(s) == utils.escapePathName(s)


def test_dictionary_default_and_explicit_encodings(spark, tmp_path):
    rows = 2000
    raw = _raw(tmp_path, {"e": {"rows_count": rows, "columns": [
        _int("dict_int", rows),
        {"name": "dict_str", "type": "string", "values": ["a", "b", "c"]},
        {"name": "plain", "type": "string", "values": ["a", "b", "c"],
         "parquet": {"encoding": "PLAIN"}},
        {"name": "delta_int", "type": "integer", "parquet": {"encoding": "DELTA_BINARY_PACKED"}},
        {"name": "delta_str", "type": "string", "parquet": {"encoding": "DELTA_BYTE_ARRAY"}},
        {"name": "delta_len", "type": "string",
         "parquet": {"encoding": "DELTA_LENGTH_BYTE_ARRAY"}},
        {"name": "split", "type": "float", "parquet": {"encoding": "BYTE_STREAM_SPLIT"}},
        {"name": "dict_ts", "type": "datetime", "parquet": {"encoding": "RLE_DICTIONARY"}},
    ]}})
    run_generate(raw, spark=spark)
    got = {}
    for col, enc in duckdb.sql(
        f"SELECT path_in_schema, encodings FROM parquet_metadata('{tmp_path}/e/*.parquet')"
    ).fetchall():
        got.setdefault(col, set()).update(e.strip() for e in enc.split(","))
    for col in ("dict_int", "dict_str", "dict_ts"):
        assert "RLE_DICTIONARY" in got[col], (col, got[col])
    assert "RLE_DICTIONARY" not in got["plain"] and "PLAIN" in got["plain"]
    for col, enc in (("delta_int", "DELTA_BINARY_PACKED"), ("delta_str", "DELTA_BYTE_ARRAY"),
                     ("delta_len", "DELTA_LENGTH_BYTE_ARRAY"), ("split", "BYTE_STREAM_SPLIT")):
        assert enc in got[col] and "RLE_DICTIONARY" not in got[col], (col, got[col])


def test_rle_reaches_the_writer_and_a_failed_overwrite_keeps_old_files(spark, tmp_path):
    # RLE is passed to pyarrow as configured; parquet defines it for
    # booleans only, so on an integer column the write fails, and the
    # overwrite it was must leave the earlier output as it was
    raw = _raw(tmp_path, {"t": {"rows_count": 100, "columns": [_int("k", 100)]}})
    run_generate(raw, spark=spark)
    before = sorted(os.listdir(tmp_path / "t"))
    raw["models"]["t"]["columns"][0]["parquet"] = {"encoding": "RLE"}
    cfg = parse_config(raw)
    df = Engine(cfg).model_df(spark, "t")
    with pytest.raises(Exception, match="RLE only supports BOOLEAN"):
        write_model(spark, df, cfg.models["t"], cfg.output)
    assert sorted(os.listdir(tmp_path / "t")) == before == ["t_0.parquet"]
    assert plan_stats.rows(str(tmp_path / "t")) == 100


def test_timestamp_millis_floors(spark, tmp_path):
    raw = _raw(tmp_path, {"m": {"rows_count": 500, "columns": [
        _int("id", 500),
        {"name": "t", "type": "datetime", "type_params": {
            "from": "1969-12-31T23:59:59.99Z", "to": "1970-01-01T00:00:00.01Z"}}]}},
        timestamp_unit="millis")
    run_generate(raw, spark=spark)
    files = glob.glob(f"{tmp_path}/m/*.parquet")
    assert pq.ParquetFile(files[0]).schema_arrow.field("t").type.unit == "ms"
    micros = dict(Engine(parse_config(raw)).model_df(spark, "m")
                  .select("id", F.unix_micros("t")).collect())
    assert any(us < 0 and us % 1000 for us in micros.values())
    back = duckdb.sql(
        f"SELECT id, epoch_ms(t) FROM read_parquet('{tmp_path}/m/*.parquet')").fetchall()
    assert len(back) == 500
    assert all(ms == micros[i] // 1000 for i, ms in back)


def test_millis_generate_leaves_session_conf(spark, tmp_path):
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "INT96")  # neither unit the sink writes
        run_generate(_raw(tmp_path, {"m": {"rows_count": 10, "columns": [
            {"name": "t", "type": "datetime"}]}}, timestamp_unit="millis"), spark=spark)
        assert spark.conf.get(key) == "INT96"
    finally:
        spark.conf.set(key, before)


def test_rotation_carries_remainder(spark, tmp_path):
    # 200k rows in one task arrive as 65,536-row batches; the writer
    # carries each file's remainder over instead of cutting short files
    rows = 200_000
    raw = _raw(tmp_path, {"t": {"rows_count": rows, "rows_per_file": 100_000,
                                "columns": [_int("k", rows)]}})
    cfg = parse_config(raw)
    df = Engine(cfg).model_df(spark, "t", num_partitions=1)
    write_model(spark, df, cfg.models["t"], cfg.output)
    assert sorted(os.listdir(tmp_path / "t")) == ["t_0.parquet", "t_1.parquet"]
    got = [duckdb.sql(f"SELECT count(*), min(k), max(k) FROM '{tmp_path}/t/{f}'").fetchone()
           for f in ("t_0.parquet", "t_1.parquet")]
    assert got == [(100_000, 1, 100_000), (100_000, 100_001, 200_000)]


@pytest.mark.parametrize("failing,fmt", [(0, "parquet"), (1, "parquet"), (3, "parquet"),
                                         (1, "csv")], ids=["0", "1", "3", "csv"])
def test_failed_task_commits_nothing_and_resume_writes_every_id_once(
        spark, tmp_path, failing, fmt):
    rows, tasks = 4000, 4
    # rows_per_file keeps the rotation coalesce at one task per slice
    raw = _raw(tmp_path, {"t": {"rows_count": rows, "rows_per_file": rows // tasks,
                                "columns": [_int("k", rows), {"name": "v", "type": "float"}]}},
               type=fmt)
    cfg = parse_config(raw)
    df = Engine(cfg).model_df(spark, "t", num_partitions=tasks)
    staging = f"{tmp_path}/t/_staging"

    def fail_one(batches):
        from pyspark import TaskContext

        if TaskContext.get().partitionId() == failing:
            # fail only after the other tasks have staged their files
            deadline = time.monotonic() + 120
            while (len(glob.glob(f"{staging}/*/*.{fmt}")) < tasks - 1
                   and time.monotonic() < deadline):
                time.sleep(0.05)
            time.sleep(1)
            raise RuntimeError("injected task failure")
        yield from batches

    with pytest.raises(Exception, match="injected task failure"):
        write_model(spark, df.mapInArrow(fail_one, df.schema), cfg.models["t"], cfg.output)
    assert not glob.glob(f"{tmp_path}/t/**/t_*.{fmt}", recursive=True)
    assert plan_stats.committed_files(str(tmp_path / "t")) == []

    save_backup(str(tmp_path), raw)
    run_generate(raw, spark=spark, continue_generation=True)
    assert duckdb.sql(
        f"SELECT count(*), count(DISTINCT k), min(k), max(k) "
        f"FROM read_{fmt}('{tmp_path}/t/**/*.{fmt}')").fetchone() == (rows, rows, 1, rows)


def test_default_cpus(monkeypatch):
    from sdvg_spark.session import default_cpus

    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == default_cpus("local[2]") == str(len(os.sched_getaffinity(0)))
    assert default_cpus("spark://host:7077") == "32"
    monkeypatch.setenv("SPARK_MASTER", "yarn")
    assert default_cpus() == "32"
