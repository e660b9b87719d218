"""plan_stats: which files are a dataset, and what their footers say —
checked against Spark and DuckDB reading the same files."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sdvg_spark import plan_stats

# the repo's committed sf0.01 tables
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench", "data")


def test_only_committed_files_count(spark, tmp_path):
    """Spark's listing rule: _SUCCESS, .crc and _temporary/ are not data;
    a ``__part_k=1/`` partition directory is."""
    d = str(tmp_path / "t.parquet")
    spark.range(1000).selectExpr("id", "id % 7 AS k").repartition(3).write.parquet(d)
    parts = sorted(
        os.path.join(d, f) for f in os.listdir(d)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) == 3
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    assert any(f.endswith(".crc") for f in os.listdir(d))
    # a killed job's staging copy, and a partition dir the rename pass
    # has not restored yet
    os.makedirs(os.path.join(d, "_temporary", "0"))
    shutil.copy(parts[0], os.path.join(d, "_temporary", "0", "x.parquet"))
    os.makedirs(os.path.join(d, "__part_k=1"))
    extra = os.path.join(d, "__part_k=1", "p.parquet")
    spark.range(25).coalesce(1).write.parquet(str(tmp_path / "one"))
    (one,) = plan_stats.committed_files(str(tmp_path / "one"))
    shutil.copy(one, extra)

    assert plan_stats.committed_files(d) == [*parts, extra]
    assert plan_stats.rows(d) == 1025
    assert plan_stats.dataset_bytes(d) == sum(os.path.getsize(f) for f in [*parts, extra])
    assert plan_stats.rows(parts[0]) == spark.read.parquet(parts[0]).count()


def test_reducers_match_spark(spark):
    docs = os.path.join(TABLES, "documents.parquet")
    emb = os.path.join(TABLES, "embeddings.parquet")
    ev = os.path.join(TABLES, "events.parquet")
    for path in (docs, emb, ev):
        assert plan_stats.rows(path) == spark.read.parquet(path).count()
    widths = spark.read.parquet(emb).select(F.size("embedding").alias("w")).distinct().collect()
    assert [r.w for r in widths] == [plan_stats.list_width(emb, "embedding")]
    lo, hi = spark.read.parquet(docs).select(F.min("doc_id"), F.max("doc_id")).first()
    assert plan_stats.column_min_max(docs, "doc_id") == (lo, hi)
    (chars,) = spark.read.parquet(docs).select(F.sum(F.length("text"))).first()
    assert plan_stats.column_bytes(docs, "text") >= chars > 0


def test_missing_path_raises_and_entry_falls_back(tmp_path):
    import __spark_entry__ as E

    missing = str(tmp_path / "missing.parquet")
    for reduce, args in [
        (plan_stats.rows, ()),
        (plan_stats.column_bytes, ("text",)),
        (plan_stats.list_width, ("embedding",)),
        (plan_stats.column_min_max, ("doc_id",)),
        (plan_stats.dataset_bytes, ()),
    ]:
        with pytest.raises(FileNotFoundError):
            reduce(missing, *args)
    sf = str(tmp_path)
    assert E._parquet_rows(sf, "missing") == -1
    assert E._parquet_col_bytes(sf, "missing", "text") == -1
    assert E._parquet_list_dims(sf, "missing", "embedding") is None
    assert E._parquet_col_minmax(sf, "missing", "doc_id") is None
    # an unreadable file raises in the library too
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    with pytest.raises(Exception):
        plan_stats.rows(str(bad))
    assert E._parquet_rows(sf, "bad") == -1
