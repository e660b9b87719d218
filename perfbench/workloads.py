"""The workloads: what one pass runs, what the run checks, and which
per-layer figures the traced run derives.

Every pass goes through a public entry point of the program:
``jobs.run_generate`` (gen_devnull) or ``__spark_entry__.queries()``
(ops_suite). The traced runs add probes outside the timed passes: the
kernels, one F7 parquet generate (GenParquet), one ``cli.main`` curate
and the curate stages one by one.
"""

from __future__ import annotations

import contextlib
import copy
import io
import os
import shutil
import statistics
import time

from perfbench import fixture
from perfbench.trace import Tracer

GEN_ROWS = 3_000_000
GEN_CHECK_ROWS = 4_000
GEN_SLICE_ROWS = 10_000
# DuckDB 1.0 fails with an internal error on the full-range 64-bit
# integer mirror; that column is covered by the fingerprint check only
GEN_NO_MIRROR = {"i64"}

# bench.py's GEN_BENCH_CFG mix (the reference's bench_test.go:95-415):
# 8 columns through the feistel permutation
GEN_COLUMNS = [
    {"name": "i64", "type": "integer", "type_params": {"bit_width": 64}},
    {"name": "i32_ord", "type": "integer", "type_params": {"bit_width": 32, "from": 0, "to": 2_000_000}, "ordered": True},
    {"name": "f64", "type": "float", "type_params": {"bit_width": 64, "from": 0, "to": 1}},
    {"name": "dt", "type": "datetime"},
    {"name": "enum", "type": "string", "values": ["a", "b", "c", "d", "e"]},
    {"name": "uuid", "type": "uuid"},
    {"name": "s8", "type": "string", "type_params": {"min_length": 8, "max_length": 8}},
    {"name": "mix", "type": "integer", "ranges": [
        {"type_params": {"bit_width": 32, "from": 0, "to": 100}, "range_percentage": 0.5},
        {"type_params": {"bit_width": 32, "from": 1000, "to": 2000}, "range_percentage": 0.3},
        {"type_params": {"bit_width": 32, "from": 10**6, "to": 10**7}, "range_percentage": 0.2, "ordered": True}]},
]

# FIXTURES.md F7: the reference's writer-bench models, each partitioned
# on a 100-value column, plus a child model holding a foreign key
PARQUET_ROWS = 20_000
PARQUET_CHILD_ROWS = 20_000
PARQUET_MODELS = {
    "integers": ([
        {"name": "integer_32", "type": "integer", "type_params": {"bit_width": 32}, "distinct_count": 100},
        {"name": "integer_64", "type": "integer", "type_params": {"bit_width": 64, "from": 1, "to": 2147483647}, "distinct_percentage": 1},
    ], "integer_32"),
    "floats": ([
        {"name": "float_32", "type": "float", "type_params": {"bit_width": 32}, "distinct_percentage": 1},
        {"name": "float_64", "type": "float", "type_params": {"bit_width": 64, "from": 1, "to": 3.4028234663852886e38}, "distinct_count": 100},
    ], "float_64"),
    "strings": ([
        {"name": "string", "type": "string", "type_params": {"locale": "en", "min_length": 32, "max_length": 32}, "distinct_count": 100},
        {"name": "uuid", "type": "uuid", "distinct_percentage": 1},
    ], "string"),
    "datetime": ([
        {"name": "created_dt", "type": "datetime", "type_params": {"from": "1995-02-17T00:00:00Z", "to": "2002-02-27T00:00:00Z"}, "distinct_percentage": 1},
        {"name": "started_dt", "type": "datetime", "type_params": {"from": "2002-02-27T00:00:00Z", "to": "2010-03-20T00:00:00Z"}, "distinct_count": 100},
    ], "started_dt"),
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df):
    """(rows, wrapping sum of xxhash64 over every column as text):
    independent of row order and partitioning."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in sorted(df.columns)]
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def disk_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = count = 0
    for root, _d, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, f))
                count += 1
    return size, count


def ns_per_item(fn, n: int, reps: int = 5) -> float:
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n * 1e9


class Workload:
    """One pass = ``run_pass``; the caller times it. ``op_names`` are the
    operations a pass attempts (error_rate's denominator); a failed check
    named after one of them makes that operation wrong, any other failed
    check makes every operation wrong."""

    name = ""
    op_names = ["generate"]

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.out_root = os.path.join(ctx.work, self.name)
        os.makedirs(self.out_root, exist_ok=True)

    def run_pass(self, i: int, tr: Tracer) -> dict:
        """Returns {"rows": n, "times": {op: seconds}}."""
        raise NotImplementedError

    def wrap(self, tr: Tracer) -> None:
        pass

    def out_dir(self, i: int) -> str:
        return os.path.join(self.out_root, f"p{i}")

    def drop_output(self, i: int) -> None:
        shutil.rmtree(self.out_dir(i), ignore_errors=True)

    def check(self, last: int) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def layer_figures(self, tr: Tracer, spark_of, i: int) -> dict:
        return {}

    def probes(self) -> tuple[dict, list[tuple[str, bool, str]]]:
        """Per-layer figures measured outside the timed passes, and the
        checks of any output they make (traced run only)."""
        return {}, []


# -- generation ----------------------------------------------------------------


def _gen_wrap(tr: Tracer) -> None:
    import sdvg_spark.jobs as J
    import sdvg_spark.sinks.writers as W
    from sdvg_spark.engine import Engine

    tr.wrap(J, "parse_config", "config.parse")
    tr.wrap(J, "save_backup", "backup.save")
    tr.wrap(J, "save_checkpoint", "backup.save")
    tr.wrap(Engine, "model_df", "engine.plan_build")
    tr.wrap(W, "write_model", "sinks.write")


def _gen_figures(tr: Tracer, spark_of, i: int) -> dict:
    def total(name):
        return sum(s.duration for s in tr.spans if s.name == name)

    run = [s for s in tr.spans if s.name == "jobs.run_generate"]
    return {
        "config.parse_s": total("config.parse"),
        "engine.plan_build_s": total("engine.plan_build"),
        "sinks.write_s": total("sinks.write"),
        "jobs.run_generate_s": sum(s.duration for s in run),
        "jobs.overhead_s": sum(tr.self_time(s) for s in run),
        "jobs.write_calls": sum(1 for s in tr.spans if s.name == "sinks.write"),
        "backup.save_s": total("backup.save"),
    }


def _kernel_probes(cfg_raw: dict) -> dict:
    """Single-thread numpy kernels and value generators, per row."""
    import numpy as np

    from sdvg_spark.config.model import parse_config
    from sdvg_spark.core.rng import frf_np
    from sdvg_spark.core.sequence import feistel_np
    from sdvg_spark.engine import Engine

    n = 1_000_000
    x = np.arange(n, dtype=np.uint64)
    out = {
        "core.feistel_ns_per_row": ns_per_item(lambda: feistel_np(x, n, 12345), n),
        "core.frf_ns_per_row": ns_per_item(lambda: frf_np(x), n),
    }
    cfg = parse_config(cfg_raw)
    model = next(iter(cfg.models.values()))
    eng = Engine(cfg)
    out["engine.kernel_columns"] = sum(1 for p in eng.plans_for(model) if not p.pure_native)
    plans = {c.name: p for p, c in zip(eng.plans_for(model), model.columns)}
    m = 100_000
    for key, col in (("string", "s8"), ("uuid", "uuid"), ("datetime", "dt"), ("enum", "enum")):
        rp = plans[col].ranges[0]
        # value ordinals, as the engine hands them over: [0, distinct)
        numbers = np.arange(m, dtype=np.float64) % rp.distinct
        out[f"generators.{key}_ns_per_value"] = ns_per_item(lambda: rp.vgen.np_value(numbers), m, reps=3)
    return out


class GenDevnull(Workload):
    name = "gen_devnull"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.raw = {
            "random_seed": ctx.seed,
            "permutation": "feistel",
            "output": {"type": "devnull"},
            "models": {"bench": {"rows_count": GEN_ROWS, "columns": GEN_COLUMNS}},
        }

    def wrap(self, tr):
        _gen_wrap(tr)

    def run_pass(self, i, tr):
        from sdvg_spark.jobs import run_generate

        t0 = time.perf_counter()
        with tr.span("jobs.run_generate"):
            run_generate(copy.deepcopy(self.raw), spark=self.spark)
        return {"rows": GEN_ROWS, "times": {"generate": time.perf_counter() - t0}}

    def check(self, last):
        from sdvg_spark.config.model import parse_config
        from sdvg_spark.engine import Engine
        from sdvg_spark.oracle import column_oracle_sql

        results = []
        # value-exact: the engine vs the generators' DuckDB mirror, for the
        # run's seed, on a check-sized model of the same mix
        small = copy.deepcopy(self.raw)
        small["models"]["bench"]["rows_count"] = GEN_CHECK_ROWS
        cfg = parse_config(small)
        rows = Engine(cfg).model_df_with_id(self.spark, "bench").collect()
        import duckdb

        con = duckdb.connect()
        for c in GEN_COLUMNS:
            if c["name"] in GEN_NO_MIRROR:
                continue
            got = fixture.result_hash(["id", c["name"]], [(r["id"], r[c["name"]]) for r in rows])
            sql = column_oracle_sql(cfg, "bench", c["name"])
            cur = con.execute(sql)
            want = fixture.result_hash([d[0] for d in cur.description], cur.fetchall())
            results.append((f"mirror:{c['name']}", got == want, f"{got[1]} rows"))
        # order-independent fingerprint of a slice of the timed model
        # under two partition counts
        eng = Engine(parse_config(self.raw))
        lo = GEN_ROWS // 2
        fps = [
            fingerprint(eng.model_df(self.spark, "bench", generate_from=lo,
                                     generate_to=lo + GEN_SLICE_ROWS, num_partitions=p))
            for p in (self.ctx.nproc, 7)
        ]
        results.append(("partition-invariant", fps[0] == fps[1] and fps[0][0] == GEN_SLICE_ROWS, str(fps)))
        return results

    def layer_figures(self, tr, spark_of, i):
        return _gen_figures(tr, spark_of, i)

    def probes(self):
        out = _kernel_probes(self.raw)
        out.update(python_scaling(self.spark, self.ctx.status, self.ctx.seed))
        figures, checks = GenParquet(self.ctx).probe()
        out.update(figures)
        return out, checks


def python_scaling(spark, status, seed: int) -> dict:
    """A single random-i64 column at 0.5M and 2M rows: how the SQL
    metrics 'time to initialize / run Python workers' scale. Each
    figure is the median of two noop writes after one warm-up.

    'Initialize' is summed over tasks; per task it runs from the worker
    picking up the task to the UDF being ready (pyspark worker.py,
    boot_time to init_time): reading the task header and broadcasts and
    unpickling the UDF closure, which imports its modules in a fresh
    worker. No row is processed in it, so it grows with tasks and UDFs,
    not with rows; 'run' is the row work."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine

    out = {}
    for tag, n in (("small", 500_000), ("large", 2_000_000)):
        cfg = parse_config({"random_seed": seed, "models": {"m": {"rows_count": n, "columns": [
            {"name": "v", "type": "integer", "type_params": {"bit_width": 64}}]}}})
        df = Engine(cfg).model_df(spark, "m")
        noop(df)
        runs = []
        for _ in range(2):
            status.settle()
            first = status.max_job_id() + 1
            noop(df)
            status.settle()
            per_job = status.snapshot(first, status.max_job_id())
            runs.append({k: sum(j[k] for j in per_job.values()) for k in ("init_s", "run_s")})
        out[f"python.scale_{tag}_init_s"] = statistics.median(r["init_s"] for r in runs)
        out[f"python.scale_{tag}_run_s"] = statistics.median(r["run_s"] for r in runs)
    return out


class GenParquet(Workload):
    """FIXTURES.md F7 written to snappy parquet through run_generate.

    Not a workload of its own: its passes cost too much of the run
    budget. gen_devnull's traced run makes one traced pass of it, checks
    the output and reports the sink, jobs and backup figures from it."""

    name = "gen_parquet"

    def __init__(self, ctx):
        super().__init__(ctx)
        models = {}
        for name, (cols, part) in PARQUET_MODELS.items():
            models[name] = {
                "rows_count": PARQUET_ROWS,
                "rows_per_file": PARQUET_ROWS // 4,
                "columns": cols,
                "partition_columns": [{"name": part, "write_to_output": True}],
            }
        models["child"] = {
            "rows_count": PARQUET_CHILD_ROWS,
            "rows_per_file": PARQUET_CHILD_ROWS // 2,
            "columns": [
                {"name": "parent", "foreign_key": "integers.integer_64"},
                {"name": "amount", "type": "float", "type_params": {"from": 0, "to": 1000}},
            ],
        }
        self.models = models
        self.base = {
            "random_seed": ctx.seed,
            "output": {"type": "parquet", "compression": "snappy",
                       "checkpoint_rows": PARQUET_ROWS // 2},
            "models": models,
        }

    def raw(self, i: int) -> dict:
        raw = copy.deepcopy(self.base)
        raw["output"]["dir"] = self.out_dir(i)
        return raw

    def wrap(self, tr):
        _gen_wrap(tr)

    def run_pass(self, i, tr):
        from sdvg_spark.jobs import run_generate

        raw = self.raw(i)
        t0 = time.perf_counter()
        with tr.span("jobs.run_generate"):
            run_generate(raw, spark=self.spark, force=True)
        return {"rows": sum(m["rows_count"] for m in self.models.values()),
                "times": {"generate": time.perf_counter() - t0}}

    def check(self, last):
        import duckdb
        from pyspark.sql import functions as F

        from sdvg_spark.config.model import parse_config
        from sdvg_spark.engine import Engine

        out_dir = self.out_dir(last)
        cfg = parse_config(self.raw(last))
        eng = Engine(cfg)
        results = []
        con = duckdb.connect()

        def files(m):
            return f"read_parquet('{out_dir}/{m}/**/*.parquet', hive_partitioning=false)"

        for name, spec in self.models.items():
            n = con.execute(f"SELECT count(*) FROM {files(name)}").fetchone()[0]
            results.append((f"rows:{name}", n == spec["rows_count"], str(n)))
            mem = eng.model_df(self.spark, name)
            # the parquet sink rounds floats to output.float_precision (2)
            mem = mem.select(*[
                F.round(F.col(f.name), 2).cast(f.dataType).alias(f.name)
                if f.dataType.typeName() in ("float", "double") else F.col(f.name)
                for f in mem.schema.fields
            ])
            back = self.spark.read.option("recursiveFileLookup", "true").parquet(
                os.path.join(out_dir, name)
            )
            a, b = fingerprint(mem), fingerprint(back.select(*mem.columns))
            results.append((f"readback:{name}", a == b, f"{a} vs {b}"))
            if spec.get("partition_columns"):
                dirs = [d for d in os.listdir(os.path.join(out_dir, name))
                        if os.path.isdir(os.path.join(out_dir, name, d))]
                results.append((f"partitions:{name}", len(dirs) == 100, str(len(dirs))))
        orphans = con.execute(
            f"SELECT count(*) FROM {files('child')} c "
            f"WHERE c.parent NOT IN (SELECT integer_64 FROM {files('integers')})"
        ).fetchone()[0]
        results.append(("fk-subset", orphans == 0, f"{orphans} orphans"))
        return results

    def layer_figures(self, tr, spark_of, i):
        out = _gen_figures(tr, spark_of, i)
        out["sinks.bytes_written"], out["sinks.files_written"] = disk_usage(self.out_dir(i))
        return out

    def probe(self) -> tuple[dict, list[tuple[str, bool, str]]]:
        """One traced pass: its sink/jobs/backup figures and checks."""
        from perfbench.trace import traced

        tr, _by_span, _recon = traced(self.spark, self.ctx.status, self.wrap,
                                      lambda tr: self.run_pass(0, tr))
        figures = self.layer_figures(tr, None, 0)
        out = {k: v for k, v in figures.items() if k.startswith(("sinks.", "jobs.", "backup."))}
        out["out_bytes_per_row"] = figures["sinks.bytes_written"] / sum(
            m["rows_count"] for m in self.models.values())
        checks = self.check(0)
        self.drop_output(0)
        self.spark.catalog.clearCache()
        out["sinks.over_devnull_s"] = self.over_devnull()
        return out, checks

    def over_devnull(self) -> float:
        """write_model to parquet minus devnull on the same DataFrame."""
        from sdvg_spark.config.model import parse_config
        from sdvg_spark.engine import Engine
        from sdvg_spark.sinks.writers import write_model

        raw = self.raw(9999)
        cfg = parse_config(raw)
        dev = parse_config({**raw, "output": {"type": "devnull"}}).output
        m = cfg.models["strings"]
        df = Engine(cfg).model_df(self.spark, "strings")
        write_model(self.spark, df, m, dev)
        diffs = []
        for _ in range(3):
            t0 = time.perf_counter()
            write_model(self.spark, df, m, cfg.output)
            t1 = time.perf_counter()
            write_model(self.spark, df, m, dev)
            diffs.append((t1 - t0) - (time.perf_counter() - t1))
            shutil.rmtree(raw["output"]["dir"], ignore_errors=True)
        return statistics.median(diffs)


# -- op suite --------------------------------------------------------------------

# one of bench.py's pipeline queries per op module (pack_order reaches
# two), so that every op module is reached
OPS_QUERIES = [
    "pricing_summary", "events_funnel", "events_asof", "skew_salted_agg",
    "ann_lsh", "embedding_quantize", "profile_events", "dedup_simhash",
    "tfidf_keywords", "data_split", "url_dedup", "pack_order",
]
# the op modules the per-module layer metrics are kept for ("sql" = a
# query that imports no op module)
OPS_MODULES = [
    "analytics", "corpus", "dedup", "joins", "ordering", "profile", "sampling",
    "similarity", "skew", "sql", "text", "vectors", "web",
]


def query_groups(root: str, names: list[str]) -> dict[str, list[str]]:
    """The op modules each query reaches, as
    tools/rotation_ledger.query_modules() reports them ("sql" = none)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "rotation_ledger", os.path.join(root, "tools", "rotation_ledger.py"))
    ledger = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ledger)
    files = ledger.query_modules()
    return {q: [os.path.basename(f)[:-3] for f in files[q]] or ["sql"] for q in names}


class OpsSuite(Workload):
    """The op queries, each built and then collected; the check reads the
    last pass's own results.

    The traced run also runs ``sdvg-spark curate`` once through
    ``cli.main``, with the CLI defaults, over the first
    ``fixture.CURATE_DOCS`` documents (whose disposition is pinned from
    curate_oracle_sql), and then the curate stages one by one."""

    name = "ops_suite"
    op_names = OPS_QUERIES

    def __init__(self, ctx):
        super().__init__(ctx)
        import __spark_entry__ as E

        self.qs = E.queries()
        self.dir = fixture.DATA_DIR
        self.docs = os.path.join(ctx.fixture, "curate_docs.parquet")
        self.groups = query_groups(ctx.root, OPS_QUERIES)
        self.results: dict[str, tuple[list[str], list]] = {}

    def run_pass(self, i, tr):
        times, n_rows = {}, 0
        for q in OPS_QUERIES:
            with tr.span(f"ops.{q}", modules=self.groups[q]):
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = self.qs[q](self.spark, self.dir)
                with tr.span("action"):
                    rows = df.collect()
                times[q] = time.perf_counter() - t0
            self.results[q] = (df.columns, rows)
            n_rows += len(rows)
            del df, rows
        return {"rows": n_rows, "times": times}

    def check(self, last):
        results = []
        for q in OPS_QUERIES:
            got = fixture.result_hash(*self.results[q])
            want = self.ctx.pinned[q]
            results.append((q, got == (want["sha256"], want["rows"]), f"{got[1]} rows"))
        return results

    def layer_figures(self, tr, spark_of, i):
        out = dict.fromkeys(
            (f"ops.{m}.{k}" for m in OPS_MODULES
             for k in ("build_s", "action_s", "jobs", "shuffle_bytes", "python_s")), 0.0)
        for s in tr.spans:
            if s.parent is not None:
                continue
            kids = {c.name: c for c in tr.spans if c.parent == s.id}
            tot = spark_of(s)
            for m in s.attrs["modules"]:
                if m not in OPS_MODULES:
                    continue
                out[f"ops.{m}.build_s"] += kids["build"].duration
                out[f"ops.{m}.action_s"] += kids["action"].duration
                out[f"ops.{m}.jobs"] += tot["jobs"]
                out[f"ops.{m}.shuffle_bytes"] += tot["shuffle_write_bytes"]
                out[f"ops.{m}.python_s"] += tot["run_s"]
        return out

    def probes(self):
        out, checks = self.curate_cli()
        out.update(self.curate_stages())
        return out, checks

    def curate_cli(self) -> tuple[dict, list[tuple[str, bool, str]]]:
        """One traced CLI curate: build, write and post-write figures,
        output size, and the oracle check of its disposition."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import sdvg_spark.ops.pipeline as P
        from perfbench.trace import inclusive, traced
        from sdvg_spark import cli

        def at_cli(t):
            return t.current is not None and t.current.name == "cli.main"

        def wrap(tr):
            tr.wrap(P, "curate", "ops.pipeline.build")
            tr.wrap(DataFrameWriter, "parquet", "ops.pipeline.action", when=at_cli)
            tr.wrap(DataFrame, "count", "cli.post_write", when=at_cli)

        out_dir = os.path.join(self.out_root, "curate")

        def body(tr):
            with tr.span("cli.main"), contextlib.redirect_stdout(io.StringIO()):
                rc = cli.main(["curate", self.docs, out_dir, "--seed", str(self.ctx.seed)])
            if rc != 0:
                raise RuntimeError(f"curate exited {rc}")

        tr, by_span, _recon = traced(self.spark, self.ctx.status, wrap, body)

        def spans(name):
            return [s for s in tr.spans if s.name == name]

        build = spans("ops.pipeline.build")
        figures = {
            "ops.pipeline.build_s": sum(s.duration for s in build),
            "ops.pipeline.build_jobs": sum(inclusive(tr, by_span, s)["jobs"] for s in build),
            "ops.pipeline.action_s": sum(s.duration for s in spans("ops.pipeline.action")),
            "cli.post_write_jobs": sum(inclusive(tr, by_span, s)["jobs"] for s in spans("cli.post_write")),
            "out_bytes_per_row": disk_usage(out_dir)[0] / fixture.CURATE_DOCS,
        }
        ok, detail = self.check_curate(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        self.spark.catalog.clearCache()
        return figures, [("curate_cli", ok, detail)]

    def check_curate(self, out: str) -> tuple[bool, str]:
        """The CLI's disposition equals the pinned curate_oracle_sql
        result. The oracle is pinned with split seed 0; the split label,
        the one seed-dependent column, is recomputed for the run's seed."""
        import duckdb

        from sdvg_spark.ops.sampling import hash_split_oracle_sql

        con = duckdb.connect()
        con.execute(f"CREATE TABLE pinned AS SELECT * FROM '{self.ctx.fixture}/curate_oracle.parquet'")
        con.execute("CREATE TABLE kept AS SELECT doc_id AS id FROM pinned WHERE keep")
        split_sql = hash_split_oracle_sql(table="kept", id_col="id",
                                          fractions=fixture.CURATE_SPLIT, seed=self.ctx.seed)
        cur = con.execute(
            f"SELECT p.* EXCLUDE (split), s.split FROM pinned p "
            f"LEFT JOIN ({split_sql}) s ON s.id = p.doc_id"
        )
        want = fixture.result_hash([d[0] for d in cur.description], cur.fetchall())
        cur = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        got = fixture.result_hash([d[0] for d in cur.description], cur.fetchall())
        return got == want, f"{got[1]} rows"

    def curate_stages(self) -> dict:
        """Each curate stage's public function, run alone over its
        materialised input (written untimed under the work dir)."""
        from pyspark.sql import functions as F

        from sdvg_spark.ops import text as T
        from sdvg_spark.ops.corpus import pack_sequences
        from sdvg_spark.ops.dedup import connected_components, minhash_lsh_pairs
        from sdvg_spark.ops.sampling import hash_split

        spark = self.spark
        mat = os.path.join(self.out_root, "stages")
        shutil.rmtree(mat, ignore_errors=True)
        docs = spark.read.parquet(self.docs)

        def timed(df) -> float:
            t0 = time.perf_counter()
            noop(df)
            return time.perf_counter() - t0

        def save(df, name):
            df.write.parquet(os.path.join(mat, name))
            return spark.read.parquet(os.path.join(mat, name))

        toks = T.tokens(F.col("text"))
        feats = docs.select(
            F.col("doc_id").alias("id"), F.col("text").alias("t"),
            T.detect_language(F.col("text"), toks).alias("lang_pred"),
            F.round(T.quality_score(F.col("text"), toks), 9).alias("quality"),
            F.size(toks).cast("long").alias("n_tokens"),
        )
        out = {"ops.text.features_s": timed(feats)}
        passed = save(feats.where("lang_pred = 'en' AND quality >= 0.0").select("id", "t", "n_tokens"), "passed")
        pairs = minhash_lsh_pairs(passed.select("id", "t"), "id", "t", threshold=0.4, bands=21)
        out["ops.dedup.minhash_pairs_s"] = timed(pairs)
        pairs = save(pairs, "pairs")
        out["ops.dedup.pairs_out"] = pairs.count()
        comp = connected_components(passed.select("id"), pairs, id_col="id")
        out["ops.dedup.components_s"] = timed(comp)
        kept = save(passed.join(comp.where("rep = id").select("id"), "id", "left_semi"), "kept")
        out["ops.sampling.split_s"] = timed(hash_split(kept, "id", fixture.CURATE_SPLIT, seed=self.ctx.seed))
        out["ops.corpus.pack_s"] = timed(pack_sequences(kept, "id", "n_tokens", budget=2048, n_buckets=128))
        spark.catalog.clearCache()
        shutil.rmtree(mat, ignore_errors=True)
        return out


WORKLOADS = {w.name: w for w in (GenDevnull, OpsSuite)}
