"""The CSV sink: lines rendered by Spark's ``to_csv`` and written by the
Arrow file writer. Spark's own CSV writer, with the same options, is
the byte-level witness; Python's ``csv`` module reads the files back."""

from __future__ import annotations

import csv
import glob
import os
import re

import duckdb
import pytest

from sdvg_spark.config.model import ModelSpec, OutputConfig
from sdvg_spark.jobs import run_generate
from sdvg_spark.sinks.writers import write_model

# quotes, both delimiters, line breaks, a comment character, escapes,
# unicode, padding and empty / null fields
_ADVERSARIAL = ["plain", 'a"b', "x,y", "x;y", "cr\rhere", "multi\nline", "#hash",
                'back\\"quote', "\\", '"', "üñí©ødé 日本", "", None, " pad ", "\ttab "]


def _one_column(tmp_path):
    return {"random_seed": 3, "output": {"type": "csv", "dir": str(tmp_path)},
            "models": {"t": {"rows_count": 200, "columns": [
                {"name": "v", "type": "string", "values": [" pad ", "x", None]}]}}}


def _rows(path):
    """The rows of the model's CSV files, read with the output's header
    and delimiter."""
    (n,) = duckdb.sql(f"SELECT count(*) FROM read_csv('{path}/**/*.csv', header=true, "
                      f"delim=',', all_varchar=true)").fetchone()
    return n


def _records(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.reader(f))


def test_one_column_nullable_model_writes_every_row_with_its_spaces(spark, tmp_path):
    # Spark's CSV writer trimmed " pad " and skipped the rows whose line
    # was empty
    run_generate(_one_column(tmp_path), spark=spark)
    (path,) = glob.glob(f"{tmp_path}/t/*.csv")
    header, *rows = _records(path)
    assert header == ["v"] and len(rows) == 200
    assert {r[0] for r in rows} == {" pad ", "x", ""}
    assert _rows(tmp_path / "t") == 200


def test_model_dir_holds_only_data_files_and_partition_dirs(spark, tmp_path):
    raw = _one_column(tmp_path)
    raw["models"]["t"] |= {"rows_per_file": 40, "partition_columns": [
        {"name": "v", "write_to_output": True}]}
    run_generate(raw, spark=spark)
    found = []
    for root, dirs, files in os.walk(tmp_path / "t"):
        found += [os.path.relpath(os.path.join(root, n), tmp_path / "t") for n in dirs + files]
    assert found and all(
        re.fullmatch(r"v=( pad |x|null)(/t_\d+\.csv)?", p) for p in found), found
    assert _rows(tmp_path / "t") == 200


@pytest.mark.parametrize("header", [True, False])
@pytest.mark.parametrize("sep", [",", ";"])
def test_bytes_match_sparks_csv_writer(spark, tmp_path, header, sep):
    rows = [(a, b, i) for i, (a, b) in enumerate(zip(_ADVERSARIAL, _ADVERSARIAL[::-1]))]
    df = spark.createDataFrame(rows, 'a string, `we"ird;n,ame` string, i long').coalesce(1)
    (df.write.option("header", header).option("sep", sep).option("emptyValue", "")
     .option("ignoreLeadingWhiteSpace", False).option("ignoreTrailingWhiteSpace", False)
     .csv(str(tmp_path / "spark")))
    (witness,) = glob.glob(f"{tmp_path}/spark/part-*.csv")

    model = ModelSpec(name="t", rows_count=len(rows), rows_per_file=len(rows), model_dir="t")
    out = OutputConfig(type="csv", dir=str(tmp_path), delimiter=sep, without_headers=not header)
    write_model(spark, df, model, out)
    assert os.listdir(tmp_path / "t") == ["t_0.csv"]
    with open(witness, "rb") as want, open(tmp_path / "t" / "t_0.csv", "rb") as got:
        assert got.read() == want.read()
