"""Sinks: CSV / parquet / partitioning / rotation / HTTP, verified by
independent read-back (DuckDB for files, a local HTTP server for POST).
"""

from __future__ import annotations

import glob
import json
import os
import threading

import duckdb
import pytest

from sdvg_spark.config.model import parse_config
from sdvg_spark.engine import Engine
from sdvg_spark.jobs import run_generate


def _cfg(tmp, out_type, rows=500, **out_extra):
    return {
        "random_seed": 7,
        "output": {"type": out_type, "dir": str(tmp), **out_extra},
        "models": {
            "t": {
                "rows_count": rows,
                "columns": [
                    {"name": "k", "type": "integer",
                     "type_params": {"bit_width": 64, "from": 1, "to": rows}, "ordered": True},
                    {"name": "price", "type": "float",
                     "type_params": {"bit_width": 64, "from": 0, "to": 100}},
                    {"name": "ts", "type": "datetime", "ordered": True},
                    {"name": "tag", "type": "string", "values": ["x", "y", "z"]},
                ],
            }
        },
    }


def test_csv_roundtrip(spark, tmp_path):
    run_generate(_cfg(tmp_path / "csv", "csv"), spark=spark)
    con = duckdb.connect()
    n, kmin, kmax = con.execute(
        f"SELECT count(*), min(k), max(k) FROM read_csv_auto('{tmp_path}/csv/t/*.csv')"
    ).fetchone()
    assert (n, kmin, kmax) == (500, 1, 500)
    # floats are fixed-precision strings with 2 decimals
    sample = con.execute(
        f"SELECT price FROM read_csv_auto('{tmp_path}/csv/t/*.csv', all_varchar=true) LIMIT 5"
    ).fetchall()
    assert all("." in v[0] and len(v[0].split(".")[1]) == 2 for v in sample)


def test_csv_no_header_custom_delim(spark, tmp_path):
    run_generate(
        _cfg(tmp_path / "c2", "csv", without_headers=True, delimiter=";"),
        spark=spark,
    )
    files = glob.glob(f"{tmp_path}/c2/t/*.csv")
    assert files
    first = open(files[0]).readline()
    assert ";" in first and "k;" not in first  # no header row


def test_csv_unix_datetime(spark, tmp_path):
    run_generate(_cfg(tmp_path / "c3", "csv", datetime_format="unix"), spark=spark)
    con = duckdb.connect()
    (ts,) = con.execute(
        f"SELECT ts FROM read_csv_auto('{tmp_path}/c3/t/*.csv') LIMIT 1"
    ).fetchone()
    # default datetime domain is 1900-01-01..2025-01-01 (epoch seconds)
    assert isinstance(ts, int) and -2208988800 <= ts <= 1735689600


def test_parquet_roundtrip_and_rotation(spark, tmp_path):
    raw = _cfg(tmp_path / "pq", "parquet", rows=1000)
    raw["models"]["t"]["rows_per_file"] = 250
    run_generate(raw, spark=spark)
    files = glob.glob(f"{tmp_path}/pq/t/*.parquet")
    # 1000 rows at <=250 rows/file -> at least 4 files
    assert len(files) >= 4
    con = duckdb.connect()
    n, kmax = con.execute(
        f"SELECT count(*), max(k) FROM read_parquet('{tmp_path}/pq/t/*.parquet')"
    ).fetchone()
    assert (n, kmax) == (1000, 1000)


def test_partition_columns(spark, tmp_path):
    raw = _cfg(tmp_path / "part", "parquet")
    raw["models"]["t"]["partition_columns"] = [{"name": "tag"}]
    run_generate(raw, spark=spark)
    dirs = {os.path.basename(p) for p in glob.glob(f"{tmp_path}/part/t/tag=*")}
    assert dirs == {"tag=x", "tag=y", "tag=z"}
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/part/t/*/*.parquet', hive_partitioning=1)"
    ).fetchone()
    assert n == 500


def test_devnull(spark, tmp_path):
    out = run_generate(_cfg(tmp_path / "dn", "devnull"), spark=spark)
    assert out["t"].startswith("noop")


@pytest.mark.parametrize("parts", [1, 4, 7, 503])
def test_devnull_consumer_counts_every_row(spark, tmp_path, parts):
    """devnull drops values in the generating task: each task returns
    one ``rows`` row, and the rows add up to the model's, with empty
    tasks (503 > 500 rows) returning 0."""
    from sdvg_spark.jobs import _DISCARD

    df = Engine(parse_config(_cfg(tmp_path / "dn", "devnull"))).model_df(
        spark, "t", num_partitions=parts, consumer=_DISCARD
    )
    counts = [r["rows"] for r in df.collect()]
    assert len(counts) == parts
    assert sum(counts) == 500


def test_devnull_plan_returns_only_row_counts(spark, tmp_path, monkeypatch):
    """run_generate hands the devnull write a DataFrame of one ``rows``
    column made by one MapInArrow: no value crosses to the JVM."""
    import re

    import sdvg_spark.sinks.writers as W

    seen = []
    write_model = W.write_model

    def spy(spark, df, *a, **k):
        seen.append(df)
        return write_model(spark, df, *a, **k)

    monkeypatch.setattr(W, "write_model", spy)
    run_generate(_cfg(tmp_path / "dn", "devnull"), spark=spark)
    (df,) = seen
    assert df.columns == ["rows"]
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert len(re.findall(r"^\(\d+\) MapInArrow\b", plan, re.M)) == 1
    assert "Exchange" not in plan


def test_http_sink(spark, tmp_path):
    from http.server import BaseHTTPRequestHandler, HTTPServer

    received = []

    class H(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append(json.loads(body))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        run_generate(
            _cfg(
                tmp_path / "h",
                "http",
                rows=120,
                endpoint=f"http://127.0.0.1:{srv.server_port}/ingest",
                batch_size=50,
            ),
            spark=spark,
        )
    finally:
        srv.shutdown()
    total = sum(len(p["rows"]) for p in received)
    assert total == 120
    # default body template parity: {"table_name": ..., "rows": [...]}
    assert all(p["table_name"] == "t" for p in received)
    # micro-batching respected
    assert all(len(p["rows"]) <= 50 for p in received)
    assert all(set(p["rows"][0]) == {"k", "price", "ts", "tag"} for p in received)


def test_csv_go_layout_datetime_format(spark, tmp_path):
    run_generate(
        _cfg(tmp_path / "gofmt", "csv", datetime_format="2006-01-02 15:04:05"),
        spark=spark,
    )
    import re

    con = duckdb.connect()
    (ts,) = con.execute(
        f"SELECT ts FROM read_csv_auto('{tmp_path}/gofmt/t/*.csv', all_varchar=true) LIMIT 1"
    ).fetchone()
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", ts), ts


def test_layout_parity_file_names_and_null_partition(spark, tmp_path):
    # reference layout: {model}_{n}.csv files, col=null dirs
    # (csv.go:339-341, model_writer.go:225-229)
    raw = _cfg(tmp_path / "lp", "csv", rows=600)
    raw["models"]["t"]["rows_per_file"] = 200
    raw["models"]["t"]["columns"][3]["values"] = ["x", "y", None]
    raw["models"]["t"]["partition_columns"] = [{"name": "tag"}]
    run_generate(raw, spark=spark)
    dirs = {os.path.basename(p) for p in glob.glob(f"{tmp_path}/lp/t/tag=*")}
    assert dirs == {"tag=x", "tag=y", "tag=null"}
    for d in dirs:
        names = sorted(
            os.path.basename(p) for p in glob.glob(f"{tmp_path}/lp/t/{d}/*.csv")
        )
        assert names and all(
            n.startswith("t_") and n.endswith(".csv") for n in names
        ), names
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_csv_auto('{tmp_path}/lp/t/*/*.csv', hive_partitioning=1)"
    ).fetchone()
    assert n == 600


def test_write_to_output_keeps_column_in_payload(spark, tmp_path):
    raw = _cfg(tmp_path / "wto", "parquet")
    raw["models"]["t"]["partition_columns"] = [
        {"name": "tag", "write_to_output": True}
    ]
    run_generate(raw, spark=spark)
    dirs = {os.path.basename(p) for p in glob.glob(f"{tmp_path}/wto/t/tag=*")}
    assert dirs == {"tag=x", "tag=y", "tag=z"}
    con = duckdb.connect()
    cols = {
        r[0]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{tmp_path}/wto/t/*/*.parquet')"
        ).fetchall()
    }
    # the tag column survives inside the data files
    assert "tag" in cols and not any(c.startswith("__part_") for c in cols)
    (n,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/wto/t/*/*.parquet') WHERE tag IS NOT NULL"
    ).fetchone()
    assert n == 500


def test_parquet_per_column_encodings(spark, tmp_path):
    raw = _cfg(tmp_path / "enc", "parquet", rows=1000)
    raw["models"]["t"]["rows_per_file"] = 400
    cols = raw["models"]["t"]["columns"]
    cols[0]["parquet"] = {"encoding": "DELTA_BINARY_PACKED"}
    cols[1]["parquet"] = {"encoding": "BYTE_STREAM_SPLIT"}
    cols[3]["parquet"] = {"encoding": "PLAIN_DICT"}
    run_generate(raw, spark=spark)
    files = sorted(glob.glob(f"{tmp_path}/enc/t/*.parquet"))
    assert files and all(
        os.path.basename(f).startswith("t_") for f in files
    ), files
    import pyarrow.parquet as pq

    md = pq.ParquetFile(files[0]).metadata
    enc_by_col = {
        md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i).encodings
        for i in range(md.num_columns)
    }
    assert "DELTA_BINARY_PACKED" in enc_by_col["k"]
    assert "BYTE_STREAM_SPLIT" in enc_by_col["price"]
    assert any("DICTIONARY" in e for e in enc_by_col["tag"])
    # rotation respected
    assert all(pq.ParquetFile(f).metadata.num_rows <= 400 for f in files)
    con = duckdb.connect()
    n, kmax = con.execute(
        f"SELECT count(*), max(k) FROM read_parquet('{tmp_path}/enc/t/*.parquet')"
    ).fetchone()
    assert (n, kmax) == (1000, 1000)


def test_parquet_encodings_with_partitioning(spark, tmp_path):
    raw = _cfg(tmp_path / "encp", "parquet", rows=600)
    raw["models"]["t"]["columns"][0]["parquet"] = {"encoding": "DELTA_BINARY_PACKED"}
    raw["models"]["t"]["columns"][3]["values"] = ["x", None]
    raw["models"]["t"]["partition_columns"] = [{"name": "tag"}]
    run_generate(raw, spark=spark)
    dirs = {os.path.basename(p) for p in glob.glob(f"{tmp_path}/encp/t/tag=*")}
    assert dirs == {"tag=x", "tag=null"}
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/encp/t/*/*.parquet', hive_partitioning=1)"
    ).fetchone()
    assert n == 600


def test_parquet_float_rounding(spark, tmp_path):
    run_generate(_cfg(tmp_path / "pqr", "parquet", rows=200), spark=spark)
    con = duckdb.connect()
    (bad,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/pqr/t/*.parquet') "
        "WHERE price IS NOT NULL AND abs(price - round(price, 2)) > 1e-9"
    ).fetchone()
    assert bad == 0


def test_ignored_model_not_written(spark, tmp_path):
    raw = _cfg(tmp_path / "ig", "csv")
    raw["models"]["extra"] = {
        "rows_count": 10,
        "columns": [{"name": "v", "type": "integer"}],
    }
    raw["models_to_ignore"] = ["extra"]
    run_generate(raw, spark=spark)
    assert os.path.isdir(f"{tmp_path}/ig/t")
    assert not os.path.isdir(f"{tmp_path}/ig/extra")


def test_encoded_parquet_resume_append_preserves_data(spark, tmp_path):
    # regression: append-mode encoded writes must not overwrite run-1
    # files (numbering now offsets past existing {model}_{n} names)
    from sdvg_spark.sinks.writers import write_model

    raw = _cfg(tmp_path / "encres", "parquet", rows=400)
    raw["models"]["t"]["columns"][0]["parquet"] = {"encoding": "DELTA_BINARY_PACKED"}
    cfg = parse_config(raw)
    eng = Engine(cfg)
    df1 = eng.model_df(spark, "t", generate_from=0, generate_to=200)
    write_model(spark, df1, cfg.models["t"], cfg.output, mode="overwrite")
    df2 = eng.model_df(spark, "t", generate_from=200, generate_to=400)
    write_model(spark, df2, cfg.models["t"], cfg.output, mode="append")
    con = duckdb.connect()
    n, kmin, kmax = con.execute(
        f"SELECT count(*), min(k), max(k) FROM read_parquet('{tmp_path}/encres/t/*.parquet')"
    ).fetchone()
    assert (n, kmin, kmax) == (400, 1, 400)


def test_csv_resume_append_with_null_partition_dirs(spark, tmp_path):
    # regression: second append run must merge into existing tag=null /
    # renamed write_to_output dirs instead of crashing on os.rename
    from sdvg_spark.sinks.writers import write_model

    raw = _cfg(tmp_path / "csvres", "csv", rows=300)
    raw["models"]["t"]["columns"][3]["values"] = ["x", None]
    raw["models"]["t"]["partition_columns"] = [{"name": "tag"}]
    cfg = parse_config(raw)
    eng = Engine(cfg)
    write_model(
        spark, eng.model_df(spark, "t", generate_from=0, generate_to=150),
        cfg.models["t"], cfg.output, mode="overwrite",
    )
    write_model(
        spark, eng.model_df(spark, "t", generate_from=150, generate_to=300),
        cfg.models["t"], cfg.output, mode="append",
    )
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_csv_auto('{tmp_path}/csvres/t/*/*.csv', hive_partitioning=1)"
    ).fetchone()
    assert n == 300
    dirs = {os.path.basename(p) for p in glob.glob(f"{tmp_path}/csvres/t/tag=*")}
    assert dirs == {"tag=x", "tag=null"}


# ---------------------------------------------------------------------------
# parquet codec routing


@pytest.mark.parametrize(
    "codec", ["uncompressed", "snappy", "gzip", "zstd", "lz4", "brotli", "lz4raw"]
)
def test_parquet_codec_matrix(spark, tmp_path, codec):
    """Every reference codec either writes through Spark natively or is
    routed to the pyarrow writer (brotli / lz4raw); all read back."""
    import duckdb

    from sdvg_spark.config.model import parse_config
    from sdvg_spark.jobs import run_generate

    out = tmp_path / codec
    raw = {
        "random_seed": 9,
        "output": {"type": "parquet", "dir": str(out), "compression": codec},
        "models": {"m": {"rows_count": 50, "columns": [
            {"name": "x", "type": "integer", "type_params": {"from": 0, "to": 100}}]}},
    }
    parse_config(raw)
    run_generate(raw, spark=spark)
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/m/**/*.parquet')"
    ).fetchone()
    assert n == 50


@pytest.mark.parametrize("codec,msg", [("lzo", "lzo"), ("sna ppy", "unknown parquet codec")])
def test_parquet_codec_rejected(codec, msg):
    from sdvg_spark.config.model import ConfigError, parse_config

    raw = {
        "output": {"type": "parquet", "compression": codec},
        "models": {"m": {"rows_count": 5, "columns": [
            {"name": "x", "type": "integer", "type_params": {"from": 0, "to": 1}}]}},
    }
    with pytest.raises(ConfigError, match=msg):
        parse_config(raw)


def test_parquet_sort_by_tightens_row_group_stats(spark, tmp_path):
    """output.sort_by sorts within each write task: every output file is
    internally sorted on the key and carries usable min/max statistics,
    which is what lets a reader skip row groups at scale."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "sorted")
    run_generate(
        {
            "random_seed": 11,
            "output": {"type": "parquet", "dir": d, "sort_by": ["v"]},
            "models": {
                "m": {
                    "rows_count": 20000,
                    "columns": [
                        {"name": "v", "type": "integer",
                         "type_params": {"bit_width": 64, "from": 0, "to": 10**9}},
                        {"name": "u", "type": "uuid"},
                    ],
                }
            },
        },
        spark=spark,
    )
    import pathlib

    files = list(pathlib.Path(d).rglob("*.parquet"))
    assert files
    for f in files:
        pf = pq.ParquetFile(str(f))
        vals = pf.read(columns=["v"]).column("v").to_pylist()
        assert vals == sorted(vals)  # task-local sort reached the file
        md = pf.metadata
        idx = next(
            i for i in range(md.num_columns) if md.schema.column(i).name == "v"
        )
        prev_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max
            if prev_max is not None:
                assert st.min >= prev_max  # row groups don't overlap
            prev_max = st.max


def test_sort_by_rejected_for_non_parquet():
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.config.model import ConfigError

    import pytest as _pytest

    with _pytest.raises(ConfigError, match="sort_by"):
        parse_config(
            {
                "random_seed": 1,
                "output": {"type": "csv", "dir": "/tmp/x", "sort_by": ["v"]},
                "models": {"m": {"rows_count": 10, "columns": [
                    {"name": "v", "type": "integer"}]}},
            }
        )


def test_parquet_sort_by_with_partition_columns(spark, tmp_path):
    """sort_by must survive Hive partitioning: the writer re-sorts on
    partition keys, so the sort keys have to ride behind them or the
    within-file order is unspecified."""
    import pathlib

    import pyarrow.parquet as pq

    d = str(tmp_path / "psorted")
    run_generate(
        {
            "random_seed": 12,
            "output": {"type": "parquet", "dir": d, "sort_by": ["v"]},
            "models": {
                "m": {
                    "rows_count": 20000,
                    "columns": [
                        {"name": "v", "type": "integer",
                         "type_params": {"bit_width": 64, "from": 0, "to": 10**9}},
                        {"name": "grp", "type": "string", "values": ["a", "b"]},
                    ],
                    "partition_columns": [{"name": "grp"}],
                }
            },
        },
        spark=spark,
    )
    files = list(pathlib.Path(d).rglob("*.parquet"))
    assert files
    assert any("grp=a" in str(f) for f in files)
    for f in files:
        vals = pq.ParquetFile(str(f)).read(columns=["v"]).column("v").to_pylist()
        assert vals == sorted(vals), f


def test_sort_by_missing_column_rejected():
    from sdvg_spark.config.model import ConfigError, parse_config

    import pytest as _pytest

    with _pytest.raises(ConfigError, match="sort_by\\[typo\\] does not exist"):
        parse_config(
            {
                "random_seed": 1,
                "output": {"type": "parquet", "dir": "/tmp/x", "sort_by": ["typo"]},
                "models": {"m": {"rows_count": 10, "columns": [
                    {"name": "v", "type": "integer"}]}},
            }
        )


def test_zorder_value_is_morton_interleave(spark):
    """Hand-checked Morton codes at 2 bits x 2 columns: bit b of col i
    lands at position b*2+i."""
    from pyspark.sql import functions as F

    from sdvg_spark.sinks.zorder import zorder_value

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 3)], "a long, b long"
    )
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", zorder_value([F.col("a"), F.col("b")], bits=2).alias("z")
        ).collect()
    }
    assert got == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3, (2, 0): 4, (3, 3): 15}


def test_parquet_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-ordered output must carry tight row-group stats on BOTH keys:
    a point filter on either column overlaps only a fraction of the row
    groups, where the unclustered layout overlaps essentially all of
    them. (This is the multi-dimensional skipping sort_by can't give —
    its second column's stats stay full-range.)"""
    import pathlib

    import pyarrow.parquet as pq

    def write(d, extra_output):
        run_generate(
            {
                "random_seed": 23,
                "output": {"type": "parquet", "dir": d, **extra_output},
                "models": {
                    "m": {
                        "rows_count": 100_000,
                        "rows_per_file": 5_000,  # >= 20 files -> real granularity
                        "columns": [
                            {"name": "a", "type": "integer",
                             "type_params": {"bit_width": 32, "from": 0, "to": 999}},
                            {"name": "b", "type": "integer",
                             "type_params": {"bit_width": 32, "from": 0, "to": 999}},
                        ],
                    }
                },
            },
            spark=spark,
        )

    def overlaps(d, col, point):
        total = hit = 0
        for f in pathlib.Path(d).rglob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            idx = next(
                i for i in range(md.num_columns) if md.schema.column(i).name == col
            )
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st is None or not st.has_min_max or st.min <= point <= st.max:
                    hit += 1
        assert total > 4, f"need several row groups, got {total}"
        return hit, total

    plain_d = str(tmp_path / "plain")
    z_d = str(tmp_path / "zorder")
    write(plain_d, {})
    write(z_d, {"zorder_by": ["a", "b"]})

    for col in ("a", "b"):
        p_hit, p_total = overlaps(plain_d, col, 500)
        z_hit, z_total = overlaps(z_d, col, 500)
        # unclustered: random values make every row group span ~full range
        assert p_hit == p_total, (col, p_hit, p_total)
        # z-ordered: a point touches only a fraction of the groups
        assert z_hit <= z_total // 2, (col, z_hit, z_total)


def test_zorder_config_validation():
    from sdvg_spark.config.model import ConfigError, parse_config

    base = {
        "random_seed": 1,
        "models": {
            "m": {
                "rows_count": 10,
                "columns": [
                    {"name": "a", "type": "integer"},
                    {"name": "s", "type": "string"},
                ],
            }
        },
    }
    with pytest.raises(ConfigError, match="mutually exclusive"):
        parse_config({**base, "output": {"type": "parquet", "dir": "/tmp/x",
                                         "sort_by": ["a"], "zorder_by": ["a", "a"]}})
    with pytest.raises(ConfigError, match="does not exist"):
        parse_config({**base, "output": {"type": "parquet", "dir": "/tmp/x",
                                         "zorder_by": ["a", "nope"]}})
    with pytest.raises(ConfigError, match="must be numeric"):
        parse_config({**base, "output": {"type": "parquet", "dir": "/tmp/x",
                                         "zorder_by": ["a", "s"]}})
    with pytest.raises(ConfigError, match=">= 2 columns"):
        parse_config({**base, "output": {"type": "parquet", "dir": "/tmp/x",
                                         "zorder_by": ["a"]}})
    with pytest.raises(ConfigError, match="only supported for parquet"):
        parse_config({**base, "output": {"type": "csv", "dir": "/tmp/x",
                                         "zorder_by": ["a", "a"]}})


def test_bucketed_write_enables_shuffle_free_join(spark, tmp_path):
    """Two tables bucketed on the same key+count must sort-merge-join
    with NO Exchange — the write-time shuffle is the last one that key
    ever pays. This is the co-located-join story at 100 TB."""
    from pyspark.sql import functions as F

    from sdvg_spark.sinks.bucketed import read_bucketed, write_bucketed

    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny fixture tables would auto-broadcast, hiding the layout
        # effect this test pins — force the shuffle-join code path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(a, "t_bucket_a", str(tmp_path / "a"),
                       bucket_cols=["k"], n_buckets=4, sort_cols=["k"])
        write_bucketed(b, "t_bucket_b", str(tmp_path / "b"),
                       bucket_cols=["k"], n_buckets=4, sort_cols=["k"])
        j = read_bucketed(spark, "t_bucket_a").join(
            read_bucketed(spark, "t_bucket_b"), "k")
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout replaces the shuffle
        assert j.count() == 1000
        # a bucket-key aggregate reuses the layout too
        g = read_bucketed(spark, "t_bucket_a").groupBy("k").count()
        gplan = g._sc._jvm.PythonSQLUtils.explainString(
            g._jdf.queryExecution(), "formatted")
        assert "Exchange" not in gplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_compact_parquet(spark, tmp_path):
    """A 64-file fragmented dataset compacts to few files with identical
    content; coalesce mode must be shuffle-free, sort mode must cluster
    (first file's max <= last file's min on the sort key)."""
    import pyarrow.parquet as pq

    from sdvg_spark.sinks.compact import compact_parquet

    src = str(tmp_path / "frag")
    df = spark.range(0, 50_000).selectExpr("id", "id % 97 as k")
    df.repartition(64).write.parquet(src)
    out = str(tmp_path / "compact")
    n = compact_parquet(spark, src, out, target_mb=256)
    assert n <= 2  # tiny dataset -> one target-size file (+/- rounding)
    back = spark.read.parquet(out)
    assert back.count() == 50_000
    assert back.selectExpr("sum(id)").first()[0] == df.selectExpr("sum(id)").first()[0]

    out2 = str(tmp_path / "clustered")
    import os
    compact_parquet(spark, src, out2, target_mb=1, sort_by=["k"])
    files = sorted(
        os.path.join(out2, f) for f in os.listdir(out2) if f.endswith(".parquet")
    )
    if len(files) >= 2:
        stats = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            col = [md.row_group(i).column(1) for i in range(md.num_row_groups)]
            stats.append((min(c.statistics.min for c in col),
                          max(c.statistics.max for c in col)))
        ranges = sorted(stats)
        # range-partitioned: key ranges of distinct files don't interleave
        for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2 or lo1 == lo2
