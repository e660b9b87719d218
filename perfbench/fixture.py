"""Benchmark inputs that do not depend on the run's seed, and their
pinned oracle results.

The op queries read the parquet tables under ``perfbench/data/``: the
repo's deterministic TPC-H-ish test tables at scale factor 0.01
(documents, embeddings, events, lineitem, orders, customer), committed
as they are. The curate CLI reads the first ``CURATE_DOCS`` of those
documents: the curate oracle takes about a minute on 200 documents and
three on all 500, and it runs in the first run of every checkout.

The DuckDB oracles run once per checkout and their results are pinned
under the build directory, with the curate input: a canonical hash per
op-suite query, and the curate disposition as parquet. The pin's key
covers the tables' bytes and every oracle SQL string, so a change to
either is rebuilt rather than checked against a stale pin. The pin is
written to a temporary directory that is renamed into place only when
complete, so an interrupted build is redone, not reused.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from decimal import Decimal

import numpy as np

FIXTURE_VERSION = "3"
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CURATE_DOCS = 200

# the curate CLI defaults (cli.py) except the seed, which the run sets
CURATE_SPLIT = {"train": 0.8, "val": 0.1, "test": 0.1}


# -- canonical result hashing ------------------------------------------------


def norm(v):
    """Engine- and oracle-side values in one comparable form: floats
    rounded to 9 places (the tolerance of the repo's oracle check),
    naive datetimes, structs and lists as tuples."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 9)
        return 0.0 if r == 0 else r
    if isinstance(v, Decimal):
        return norm(float(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dict):
        return tuple(norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):  # pyspark Row is a tuple
        return tuple(norm(x) for x in v)
    if isinstance(v, np.generic):
        return norm(v.item())
    return v


def result_hash(columns: list[str], rows) -> tuple[str, int]:
    """(sha256, row count) of a result, independent of column and row
    order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest(), len(canon)


def duck(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=4")
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{tables_dir}/{f}'")
    return con


# -- oracles -----------------------------------------------------------------


def oracle_sqls(ops_queries: list[str]) -> dict[str, str]:
    """The DuckDB SQL of every pinned result: one per op query, and the
    curate disposition (split seed 0) under ``"curate"``."""
    import __spark_entry__ as E
    from sdvg_spark.ops.pipeline import CurationConfig, curate_oracle_sql

    oracles = E.oracle_sql()
    out = {q: oracles[q] for q in ops_queries}
    out["curate"] = curate_oracle_sql(CurationConfig(split=CURATE_SPLIT, split_seed=0))
    return out


def _build(dst: str, ops_queries: list[str]) -> None:
    import duckdb

    os.makedirs(dst)
    sqls = oracle_sqls(ops_queries)
    con = duck(DATA_DIR)
    pinned = {}
    for q in ops_queries:
        cur = con.execute(sqls[q])
        digest, n = result_hash([d[0] for d in cur.description], cur.fetchall())
        pinned[q] = {"sha256": digest, "rows": n}
    with open(os.path.join(dst, "oracle.json"), "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
    con.execute(f"COPY (SELECT * FROM documents WHERE doc_id < {CURATE_DOCS} ORDER BY doc_id) "
                f"TO '{dst}/curate_docs.parquet' (FORMAT parquet)")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{dst}/curate_docs.parquet'")
    con.execute(f"COPY ({sqls['curate']}) TO '{dst}/curate_oracle.parquet' (FORMAT parquet)")


def pin_key(ops_queries: list[str]) -> str:
    h = hashlib.sha256(f"{FIXTURE_VERSION}:{CURATE_DOCS}".encode())
    for f in sorted(os.listdir(DATA_DIR)):
        h.update(f.encode())
        with open(os.path.join(DATA_DIR, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for name, sql in sorted(oracle_sqls(ops_queries).items()):
        h.update(f"{name}\0{sql}\0".encode())
    return h.hexdigest()[:12]


def ensure(build_root: str, ops_queries: list[str]) -> tuple[str, float]:
    """(path of the complete pin directory, seconds spent building it:
    0 when it was already there).

    The build runs in a child process, so the memory DuckDB takes for
    the oracles does not stay in the benchmark process, whose resident
    memory is a metric."""
    final = os.path.join(build_root, f"pinned-{pin_key(ops_queries)}")
    if os.path.isfile(os.path.join(final, "curate_oracle.parquet")):
        return final, 0.0
    t0 = time.time()
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, "-m", "perfbench.fixture", tmp, *ops_queries],
                   check=True, stdout=sys.stderr)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, time.time() - t0


if __name__ == "__main__":
    _build(sys.argv[1], sys.argv[2:])
