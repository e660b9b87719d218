"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` covers SURVEY.md §2's operator inventory: every value
generator (G1-G10), sequencer (S2/S3), and semantic modifier (M1-M6)
as a generation query checked value-for-value against an independent
DuckDB oracle, plus the beyond-parity pipeline operators (dedup,
similarity search, text analysis) and a few analytics queries over the
driver testdata tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdvg_spark import plan_stats
from sdvg_spark.config.model import parse_config
from sdvg_spark.engine import Engine
from sdvg_spark.oracle import column_oracle_sql
from sdvg_spark.session import configure_session

# ---------------------------------------------------------------------------
# Generator-parity fixture: one model exercising every generator family.
# Row count is fixed (independent of sf) — generation is the operator
# under test; the testdata tables are inputs for the pipeline ops below.

GEN_ROWS = 10_000

GEN_CFG = {
    "random_seed": 42,
    "models": {
        "m": {
            "rows_count": GEN_ROWS,
            "columns": [
                {"name": "i_ord", "type": "integer", "type_params": {"bit_width": 64, "from": 1, "to": GEN_ROWS}, "ordered": True},
                {"name": "i_rand", "type": "integer", "type_params": {"bit_width": 32, "from": -1000, "to": 1000}},
                {"name": "i_dist", "type": "integer", "type_params": {"bit_width": 64, "from": 0, "to": 10**12}, "distinct_count": 64},
                {"name": "f32", "type": "float", "type_params": {"from": 0, "to": 5}},
                {"name": "f_null", "type": "float", "type_params": {"bit_width": 64, "from": -1, "to": 1}, "null_percentage": 0.2},
                {"name": "dt_ord", "type": "datetime", "ordered": True},
                {"name": "dt_rand", "type": "datetime", "type_params": {"from": "2020-01-01T00:00:00Z", "to": "2021-01-01T00:00:00Z"}},
                {"name": "enum", "type": "string", "values": ["bronze", "gold", "silver", None]},
                {"name": "first_name", "type": "string", "type_params": {"logical_type": "first_name"}},
                {"name": "last_name", "type": "string", "type_params": {"logical_type": "last_name"}},
                {"name": "phone", "type": "string", "type_params": {"logical_type": "phone"}},
                {"name": "ranges", "type": "integer", "ranges": [
                    {"type_params": {"bit_width": 16, "from": 0, "to": 10}, "range_percentage": 0.3},
                    {"type_params": {"bit_width": 16, "from": 1000, "to": 2000}, "range_percentage": 0.7, "ordered": True}]},
                {"name": "uuid", "type": "uuid"},
                {"name": "s_simple", "type": "string", "type_params": {"min_length": 4, "max_length": 12}},
                {"name": "s_tmpl", "type": "string", "type_params": {"template": "AA-00-aa"}},
                {"name": "s_text", "type": "string", "type_params": {"logical_type": "text", "min_length": 16, "max_length": 64}},
            ],
        },
        "child": {
            "rows_count": 15_000,
            "columns": [{"name": "pid", "foreign_key": "m.i_ord"}],
        },
        "m_slice": {
            "rows_count": GEN_ROWS,
            "generate_from": 2_500,
            "generate_to": 7_500,
            "columns": [
                {"name": "v", "type": "integer", "type_params": {"bit_width": 32, "from": 0, "to": 10**6}}],
        },
    },
}

# query name -> (model, column); oracle derived mechanically for each
_GEN_QUERIES = {
    "gen_integer_ordered": ("m", "i_ord"),
    "gen_integer_random": ("m", "i_rand"),
    "gen_integer_distinct": ("m", "i_dist"),
    "gen_float32": ("m", "f32"),
    "gen_float_null": ("m", "f_null"),
    "gen_datetime_ordered": ("m", "dt_ord"),
    "gen_datetime_random": ("m", "dt_rand"),
    "gen_enum": ("m", "enum"),
    "gen_first_name": ("m", "first_name"),
    "gen_last_name": ("m", "last_name"),
    "gen_phone": ("m", "phone"),
    "gen_ranges": ("m", "ranges"),
    "gen_foreign_key": ("child", "pid"),
    "gen_slice_resume": ("m_slice", "v"),
    # every unranking (uuid, template, simple, text) has a SQL mirror:
    "gen_uuid": ("m", "uuid"),
    "gen_string_simple": ("m", "s_simple"),
    "gen_template": ("m", "s_tmpl"),
    "gen_text": ("m", "s_text"),
}
_NO_ORACLE: set[str] = set()  # every generator now has a value-exact SQL mirror


def _gen_query(model: str, column: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        cfg = parse_config(GEN_CFG)
        return Engine(cfg).column_df(spark, model, column)

    return run


# ---------------------------------------------------------------------------
# pipeline ops + analytics over the testdata tables


def _footer_stat(reduce: Callable, fallback, sf_dir: str, name: str, *args):
    """``reduce`` (a ``sdvg_spark.plan_stats`` reducer) over table
    ``name``'s parquet footers: no Spark job, no scan. Unreachable or
    unreadable footers give ``fallback``, on which the callers run the
    measuring job instead."""
    try:
        return reduce(f"{sf_dir}/{name}.parquet", *args)
    except Exception:
        return fallback


def _parquet_rows(sf_dir: str, name: str) -> int:
    """Row count, or -1 (caller falls back to ``df.count()``)."""
    return _footer_stat(plan_stats.rows, -1, sf_dir, name)


def _parquet_col_bytes(sf_dir: str, name: str, col: str) -> int:
    """Uncompressed column bytes (an upper bound on its character
    count, used to pick size-tiered strategies), or -1."""
    return _footer_stat(plan_stats.column_bytes, -1, sf_dir, name, col)


def _parquet_list_dims(sf_dir: str, name: str, col: str) -> int | None:
    """Fixed list-column width, or None (ragged, nulls, unreachable;
    callers fall back to the in-op width probe)."""
    return _footer_stat(plan_stats.list_width, None, sf_dir, name, col)


def _parquet_col_minmax(sf_dir: str, name: str, col: str):
    """(min, max) from chunk statistics, or None."""
    return _footer_stat(plan_stats.column_min_max, None, sf_dir, name, col)


# -- prepared expression fragments ------------------------------------------
# Column objects are immutable unresolved expression handles; the text
# feature suites below build trees of thousands of py4j calls (measured
# 1.9 s of pure plan-construction per q_text_features call at r11 —
# as large as the query's entire compute). Build each suite once per
# JVM gateway and reuse it, prepared-statement style: no data or
# results are cached, only the expression tree. Keyed on the gateway id
# so a restarted JVM rebuilds instead of resurrecting dead handles.
_EXPR_MEMO: dict = {}
_EXPR_MEMO_GW: list = [None]


def _memo_exprs(key: str, build: Callable[[], list]) -> list:
    from pyspark import SparkContext

    gw = id(SparkContext._gateway) if SparkContext._gateway is not None else 0
    if _EXPR_MEMO_GW[0] != gw:
        _EXPR_MEMO.clear()
        _EXPR_MEMO_GW[0] = gw
    got = _EXPR_MEMO.get(key)
    if got is None:
        got = _EXPR_MEMO[key] = build()
    return got


_READ_MEMO: dict = {}
_READ_MEMO_GW: list = [None]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_session(spark)
    # Memoize the DataFrame HANDLE per (session, path): re-reading the
    # same parquet path re-runs schema inference as a 1-task Spark job
    # every time (~0.1 s × every query × every rep). Only the
    # unresolved plan is reused — no data or results are cached.
    # Cleared whenever the py4j gateway changes (same guard as
    # _memo_exprs): a restarted JVM must never serve a DataFrame bound
    # to the dead session, and id() keys are only compared within one
    # gateway's lifetime (the memoized DataFrame keeps its session —
    # and therefore the keyed _jsparkSession wrapper — alive, so the
    # id cannot be recycled while its entry exists).
    from pyspark import SparkContext

    gw = id(SparkContext._gateway) if SparkContext._gateway is not None else 0
    if _READ_MEMO_GW[0] != gw:
        _READ_MEMO.clear()
        _READ_MEMO_GW[0] = gw
    key = (id(spark._jsparkSession), sf_dir, name)
    got = _READ_MEMO.get(key)
    if got is not None:
        return got
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # nanosAsLong surfaces TIMESTAMP(NANOS) parquet columns as long
    # nanos; normalize to µs timestamps (matches the oracle's ::TIMESTAMP
    # truncation of TIMESTAMP_NS).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: float `/ 1000` loses 1us at ~1.7e15 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if len(_READ_MEMO) > 64:  # bound across many sessions/dirs
        _READ_MEMO.clear()
    _READ_MEMO[key] = df
    return df


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops import text as T
    from sdvg_spark.ops.dedup import widen

    # widen(): the fixture parquet is one row group, so the scan is a
    # single task and this per-row-heavy map stage would serialize on
    # one core (guide §2.5: unsplittable input → repartition after the
    # read; a no-op at real scale where scans are already wide).
    docs = widen(_read(spark, sf_dir, "documents"))

    def build() -> list:
        # Stage tokenization once: `__toks` is non-cheap and referenced
        # by every feature, so CollapseProject keeps the projection
        # boundary — each row tokenizes exactly once (81s -> ~2s at
        # sf0.1).
        t, toks = F.col("__t"), F.col("__toks")
        qf = T.quality_features(t, toks)
        return [
            [
                F.col("doc_id"),
                F.col("text").alias("__t"),
                T.tokens(F.col("text")).alias("__toks"),
            ],
            [
                F.col("doc_id"),
                F.size(toks).alias("n_tokens"),
                T.regex_token_count(t).alias("n_bpe_tokens"),
                T.detect_language(t, toks).alias("lang_pred"),
                F.round(T.quality_score(t, toks), 9).alias("quality"),
                qf["dup_token_ratio"].alias("dup_token_ratio"),
                qf["dup_line_ratio"].alias("dup_line_ratio"),
                F.round(T.token_entropy(t, toks), 9).alias("token_entropy"),
                T.fingerprint(t, toks).alias("fingerprint"),
            ],
        ]

    stage_cols, out_cols = _memo_exprs("text_features", build)
    return docs.select(*stage_cols).select(*out_cols)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops.dedup import exact_dedup

    docs = _read(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select("doc_id", "source")


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    p = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=5, threshold=0.4)
    return p.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops.dedup import minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    # bands=21 (6 rows/band): the corpus is bimodal — true duplicate
    # pairs sit at jaccard ≥ 0.83, background pairs ≤ ~0.3 — so the
    # per-pair candidate-miss probability is (1-s⁶)^21 ≤ 4e-10 at the
    # gate's s≥0.93 while background pairs bucket together ~1000× less
    # often than 2-row bands would (2-row bands flooded ~half of all
    # s≈0.1 pairs into verification at sf0.1). Every candidate is
    # exact-verified, so the output IS the exact Jaccard ground truth
    # and the dedup_jaccard SQL doubles as a value-exact oracle
    # (verified identical in both tiers at sf0.01 AND sf0.1).
    est = _parquet_col_bytes(sf_dir, "documents", "text")
    p = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.4, bands=21,
        est_chars=None if est < 0 else est,
    )
    return p.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops.dedup import simhash_pairs

    docs = _read(spark, sf_dir, "documents")
    # n_docs from parquet footer metadata (_parquet_rows: no Spark job,
    # no scan) — skips the in-op sizing count over the checkpointed
    # signature table
    n_docs = _parquet_rows(sf_dir, "documents")
    if n_docs < 0:
        n_docs = docs.count()
    return simhash_pairs(docs, "doc_id", "text", max_distance=6, n_docs=n_docs)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: connected components over the (recall-certain)
    minhash pair graph; every doc labeled with its cluster's min id —
    the actual keep/drop decision of a dedup pipeline."""
    from sdvg_spark.ops.dedup import connected_components, minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    est = _parquet_col_bytes(sf_dir, "documents", "text")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.4, bands=21,
        est_chars=None if est < 0 else est,
    )
    return connected_components(docs.select("doc_id"), pairs)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops.dedup import embedding_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45, exact=True,
        dims=_parquet_list_dims(sf_dir, "embeddings", "embedding"),
    ).select("id_a", "id_b")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    # dims from footer metadata (no Spark job): the query collect
    # becomes one limit-guarded job instead of estimate + collect
    return brute_force_topk(
        emb, q, k=10, dims=_parquet_list_dims(sf_dir, "embeddings", "embedding")
    ).select("q_id", "c_id", "rank")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return lsh_topk(
        emb, q, k=10, n_planes=6, n_tables=16, multiprobe=1,
        dims=_parquet_list_dims(sf_dir, "embeddings", "embedding"),
    ).select("q_id", "c_id", "rank")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sdvg_spark.ops.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return ivf_topk(
        emb, q, k=10, n_cells=16, n_probe=12,
        dims=_parquet_list_dims(sf_dir, "embeddings", "embedding"),
    ).select("q_id", "c_id", "rank")


def q_ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF index path end-to-end: train centroids (n_iters=0
    degenerates to the n_cells smallest-id sample rows — the corpus fits
    the sample cap at test scale, so these are exactly :func:`ivf_topk`'s
    centroids), write the index partitioned by cell to a tmp path, then
    search it with file-level partition pruning. Same centroids + same
    assignment + same scoring arithmetic as the in-memory variant, so
    the DuckDB ivf mirror is a value-exact oracle for the PRUNED answer
    — closing the gap between "the plan prunes" (the pytest plan
    witness) and "the pruned answer is right"."""
    import tempfile

    from sdvg_spark.ops.similarity import (
        ivf_index_topk,
        ivf_train_centroids,
        ivf_write_index,
    )

    emb = _read(spark, sf_dir, "embeddings")
    # footer metadata stands in for every sizing action (guide §1/§6):
    # dims + row count make centroid training collect-only (no width
    # probe, no count, single-job sample fetch), and the known index
    # schema skips the read-back's schema-inference job — build went
    # from 10 Spark jobs to the write + two collects.
    dims = _parquet_list_dims(sf_dir, "embeddings", "embedding")
    n_rows = _parquet_rows(sf_dir, "embeddings")
    cent = ivf_train_centroids(
        emb, n_cells=16, n_iters=0, dims=dims,
        n_rows=n_rows if n_rows > 0 else None,
    )
    path = tempfile.mkdtemp(prefix="sdvg_ivf_idx_") + "/index"
    ivf_write_index(emb, path, cent)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vec_type = dict(emb.dtypes)["embedding"]
    return ivf_index_topk(
        q, path, cent, k=10, n_probe=12,
        index_schema=f"c_id long, vec {vec_type}, cell int",
    ).select("q_id", "c_id", "rank")


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality scorecard: recall@10 of each approximate
    ANN operator (lsh / ivf / quantized-rescore) against the exact
    brute-force top-10. Both sides are deterministic, so the recall
    numbers are value-exact against the DuckDB mirror — approximation
    quality becomes a tracked, oracle-checked artifact, not a claim.
    Join-free: the exact set is replicated per method with a literal
    explode and unioned with the tagged approx sets, so the whole
    scorecard is one two-level aggregation over queries × k-sized
    inputs (a scalar-denominator join on a constant key would fold to a
    BroadcastNestedLoopJoin — banned by the plan tests)."""
    methods = [("ivf", q_ann_ivf), ("lsh", q_ann_lsh), ("quantized", q_ann_quantized)]
    exact3 = q_ann_topk(spark, sf_dir).select(
        F.explode(F.array(*[F.lit(m) for m, _ in methods])).alias("method"),
        "q_id",
        "c_id",
        F.lit(0).alias("__a"),
        F.lit(1).alias("__e"),
    )
    parts = [
        fn(spark, sf_dir).select(
            F.lit(m).alias("method"),
            "q_id",
            "c_id",
            F.lit(1).alias("__a"),
            F.lit(0).alias("__e"),
        )
        for m, fn in methods
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2]).unionByName(exact3)
    pairs = u.groupBy("method", "q_id", "c_id").agg(
        F.sum("__a").alias("__a"), F.sum("__e").alias("__e")
    )
    return (
        pairs.groupBy("method")
        .agg(
            F.sum("__a").alias("n_approx"),
            F.sum(
                F.when((F.col("__a") > 0) & (F.col("__e") > 0), 1).otherwise(0)
            ).alias("hits"),
            F.sum("__e").alias("n_exact"),
        )
        .select(
            "method",
            "n_approx",
            "hits",
            "n_exact",
            F.round(F.col("hits") / F.col("n_exact"), 9).alias("recall"),
        )
    )


def q_corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-frequency table (tf + document frequency, top-500)
    — the vocabulary-building step of a tokenizer pipeline. Explode →
    partial-agg → one token shuffle → TakeOrdered; value-exact against
    the DuckDB mirror including the (tf DESC, token) rank order."""
    from sdvg_spark.ops.corpus import corpus_vocab

    docs = _read(spark, sf_dir, "documents")
    return corpus_vocab(docs, top_n=500)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word
    8-gram with a benchmark set (here: every 97th document, standing in
    for an eval suite). The benchmark gram table rides a broadcast, so
    the check is map-side against the corpus scan — the contamination
    sweep a training-data pipeline runs before every release."""
    from sdvg_spark.ops.corpus import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return decontaminate(docs, bench, n=8)


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style profiling of the events table: one scan computing
    count/nulls/distinct/min/max for every column, stacked to one row
    per column; values rendered through dialect-portable formats so the
    DuckDB mirror matches byte-for-byte. Tiered on the footer row count
    (the r9 verdict item-5 fix): exact multi-distinct up to 2M rows
    (every oracle scale runs ≤ ~1M events — the mirror stays
    value-exact), HLL approx_count_distinct above it, where the exact
    expand-based multi-distinct spilled 7.4 GB at the sf10 probe and
    133 GB in ONE 16 GiB JVM at sf100; estimates are the documented
    ANALYZE contract at those scales
    (profile_table(exact_distinct=False))."""
    from sdvg_spark.ops.profile import profile_table

    n_events = _parquet_rows(sf_dir, "events")
    # footer fallback (-1) profiles exact — the oracle-safe default
    return profile_table(
        _read(spark, sf_dir, "events"),
        exact_distinct=n_events < 2_000_000,
    )


def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline in one call (ops/pipeline.py):
    language + quality filter -> minhash near-dup removal -> PII-scrub
    fingerprint -> train/val/test split -> sequence packing. One output
    row per INPUT doc with its complete disposition; the oracle runs
    the same pipeline as one SQL statement, so the END-TO-END
    composition — not just each stage — is value-checked."""
    from sdvg_spark.ops.pipeline import CurationConfig, curate

    docs = _read(spark, sf_dir, "documents")
    est = _parquet_col_bytes(sf_dir, "documents", "text")
    cfg = CurationConfig(
        lang="en",
        min_quality=0.6,
        dedup_threshold=0.4,
        minhash_bands=21,
        split={"train": 0.8, "val": 0.1, "test": 0.1},
        split_seed=7,
        pack_budget=2048,
        pack_buckets=64,
        # footer-byte bound on the PASSED set's characters (subset of
        # the corpus) — skips the minhash sizing scan
        minhash_est_chars=None if est < 0 else est,
        # footer id bounds cover the kept subset — skips the pack
        # bounds job (any covering bounds give identical coordinates)
        pack_id_bounds=_parquet_col_minmax(sf_dir, "documents", "doc_id"),
    )
    return curate(docs, cfg)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: per-category redaction counts plus the
    length and fingerprint of the redacted text — enough for the oracle
    to prove the REDACTED STREAM identical byte-for-byte (the patterns
    are restricted to the Java/RE2-common regex subset)."""
    from sdvg_spark.ops import text as T
    from sdvg_spark.ops.dedup import widen

    docs = widen(_read(spark, sf_dir, "documents"))

    def build() -> list:
        c = T.pii_counts(F.col("__t"))
        return [
            [
                F.col("doc_id"),
                T.redact_pii(F.col("text")).alias("__r"),
                F.col("text").alias("__t"),
            ],
            [
                F.col("doc_id"),
                *[v.alias(k) for k, v in c.items()],
                F.length("__r").alias("redacted_len"),
                T.fingerprint(F.col("__r")).alias("redacted_fp"),
            ],
        ]

    stage_cols, out_cols = _memo_exprs("pii_redact", build)
    return docs.select(*stage_cols).select(*out_cols)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk at a 2048-token budget) via
    a distributed prefix-sum — per-bucket cumsums + a tiny bucket-offset
    window instead of the single-partition global window the naive form
    would serialize the corpus through. The oracle computes the SAME
    global cumsum with a plain SQL window, proving the distributed
    decomposition exact."""
    from sdvg_spark.ops import text as T
    from sdvg_spark.ops.corpus import pack_sequences

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        docs, "doc_id", "n_tokens", budget=2048, n_buckets=64,
        id_bounds=_parquet_col_minmax(sf_dir, "documents", "doc_id"),
    )


def q_pack_sequences_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing over the STORED ``n_chars`` column —
    same distributed prefix-sum as `pack_sequences` with zero
    tokenizer surface, so a driver mismatch here isolates the cumsum/
    div/mod arithmetic from tokenization (r05 diagnostic: the
    `pack_sequences` row hash-failed on the driver while being
    bit-identical under every local replication, including a vanilla
    default-config session)."""
    from sdvg_spark.ops.corpus import pack_sequences

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_tokens")
    )
    return pack_sequences(
        docs, "doc_id", "n_tokens", budget=8192, n_buckets=64,
        id_bounds=_parquet_col_minmax(sf_dir, "documents", "doc_id"),
    )


# pack_order interleave: char-budget and blend weights for the driver
# row. Base sources src{N} get weights 1..4 cycling (N % 4) — a
# deliberately non-uniform blend so the row actually tests ratio
# arithmetic. The weight is a RULE over the source name (shared SQL
# text, both engines) rather than an enumerated dict: the scale
# fixtures suffix sources per replica (src8-r0, src6-r7-r0), and an
# enumerated blend would reject them — the r9 sf100 probe caught
# exactly that via the op's unknown-source raise. Replica-suffixed
# sources keep their base weight and count as their own source.
_PACK_ORDER_BUDGET = 8192
_PACK_ORDER_SEED = 20260815
_PACK_ORDER_WEIGHT_EXPR = (
    "(1 + (CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) % 4))"
    " * 1000000"
)


def q_pack_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training order over packed sequences
    (ops/ordering.py:training_order): packs from the char-budget
    packing, each tagged with its lead document's source, laid out in
    a seeded global order that interleaves sources at configured
    weights — the dataloader's pack -> shard -> order step. One range
    shuffle on a uniform integer key; per-source counts ride a
    broadcast; all key arithmetic is BIGINT so the DuckDB oracle is
    value-exact."""
    from sdvg_spark.ops.corpus import pack_sequences
    from sdvg_spark.ops.ordering import training_order

    d = _read(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.col("n_chars").cast("long").alias("n_tokens"))
    packed = pack_sequences(
        docs, "doc_id", "n_tokens", budget=_PACK_ORDER_BUDGET, n_buckets=64,
        id_bounds=_parquet_col_minmax(sf_dir, "documents", "doc_id"),
    )
    leads = (
        packed.groupBy("pack_id")
        .agg(
            F.min(F.struct("pack_offset", "doc_id")).alias("__l"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .select("pack_id", F.col("__l.doc_id").alias("lead_doc"), "n_docs")
    )
    from pyspark import StorageLevel

    # persisted: training_order consumes the pack table twice (per-source
    # counts + the keyed stream); without the persist each consumer
    # re-runs the whole pack window + lead join chain (12 scans in the
    # r11 before-plan). Pack-scale rows only; evictable, recomputable.
    packs = leads.join(
        d.select(F.col("doc_id").alias("lead_doc"), "source"), "lead_doc"
    ).select("pack_id", "lead_doc", "source", "n_docs").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return training_order(
        packs,
        "pack_id",
        seed=_PACK_ORDER_SEED,
        source_col="source",
        weight_expr=_PACK_ORDER_WEIGHT_EXPR,
    ).select("pack_id", "lead_doc", "source", "n_docs", "order_key")


def q_pack_nostraddle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit (no-straddle) packing — the other standard dataloader
    convention: a doc that would overflow the pack opens a new one;
    per-shard greedy via a searchsorted pack-jump kernel."""
    from sdvg_spark.ops import text as T
    from sdvg_spark.ops.corpus import pack_sequences_nostraddle

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_sequences_nostraddle(
        docs, "doc_id", "n_tokens", budget=2048, n_shards=64
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregate (lineitem scan shape)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join orders⋈customer⋈lineitem; broadcast the small dims."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    j = (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("rev"), 2).alias("segment_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return j


def _value_micros() -> "F.Column":
    """``value`` in exact integer micro-units.

    Summing doubles is order-dependent (Spark and DuckDB reduce in
    different orders), so ``round(sum(value), 6)`` can land on either
    side of a rounding boundary — the one red CORRECTNESS cell in r1.
    ``round(value * 1e6)`` is a single IEEE multiply + round-half-away
    on the same double in both engines (bit-identical), and the long
    sum is exact and associative — order-independent by construction.
    """
    return F.round(F.col("value") * 1_000_000).cast("long")


def _micros_to_value(c: "F.Column") -> "F.Column":
    return (c / F.lit(1_000_000.0)).cast("double")


# DuckDB mirror of the same arithmetic (sum(BIGINT) is exact int128)
_SQL_VSUM = "(sum(round(value * 1000000)::BIGINT) / 1000000.0)"


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap splits sessions (window
    lag + cumulative sum — the batch form of the streaming operator)."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lag("ts", 1).over(w))
    )
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("__new", new_sess).withColumn(
        "session_seq", F.sum("__new").over(w)
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        _micros_to_value(F.sum(_value_micros())).alias("session_value"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-ready tumbling-window aggregate (streaming operator run
    in batch mode — Spark's unified semantics make the plans identical;
    the oracle pins the arithmetic). shuffle_first above 20M events
    (footer probe): the (user, hour) group space is near-raw-cardinality
    there, so the default plan's map-side partials collapsed nothing and
    spilled 12.3 GB at the sf100 probe — pre-partitioning on user_id
    runs the aggregate once post-shuffle, same values."""
    from sdvg_spark.streaming import windowed_agg

    ev = _read(spark, sf_dir, "events")
    out = windowed_agg(
        ev,
        "ts",
        "1 hour",
        {
            "n_events": F.count(F.lit(1)),
            "total_value": _micros_to_value(F.sum(_value_micros())),
        },
        keys=["user_id"],
        shuffle_first=_parquet_rows(sf_dir, "events") >= 20_000_000,
    )
    return out.select("user_id", "window_start", "n_events", "total_value")


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) — the streaming sessionizer in
    batch mode, oracle-checked against a gap-and-cumsum SQL rewrite.
    shuffle_first above 20M events (footer probe): same rationale and
    sf100 measurement as events_hourly."""
    from sdvg_spark.streaming import sessionize_stream

    ev = _read(spark, sf_dir, "events")
    out = sessionize_stream(
        ev,
        "ts",
        "30 minutes",
        {
            "n_events": F.count(F.lit(1)),
            "session_value": _micros_to_value(F.sum(_value_micros())),
        },
        keys=["user_id"],
        shuffle_first=_parquet_rows(sf_dir, "events") >= 20_000_000,
    )
    return out.select("user_id", "session_start", "session_end", "n_events", "session_value")


def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment over the events table
    (ops/sampling.py): pure function of (event_id, seed) via the synced
    frf chain — map-only, reproducible across partitionings, and
    value-exact against the DuckDB mirror of the same chain."""
    from sdvg_spark.ops.sampling import hash_split

    ev = _read(spark, sf_dir, "events").select("event_id")
    return hash_split(
        ev, "event_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
    )


def q_data_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware split keyed on the STRING `source` column: every row
    of a source shares one label (md5-fold draw), so near-duplicates
    within a source cannot straddle train/test — the leakage-safe split
    for web-crawl-style corpora."""
    from sdvg_spark.ops.sampling import hash_split

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return hash_split(
        docs, "source", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: int8-code shortlist over the whole corpus
    (reads 1/4 of the float bytes), exact-cosine rescore of only the
    shortlisted candidates. Integer dot products are exact in float64,
    so the SHORTLIST itself — not just the final ranking — is
    value-exact against the DuckDB mirror."""
    from sdvg_spark.ops.similarity import quantized_rescore_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return quantized_rescore_topk(
        emb, q, k=10, shortlist=4,
        dims=_parquet_list_dims(sf_dir, "embeddings", "embedding"),
    ).select("q_id", "c_id", "rank")


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (ops/vectors.py) summarized to
    scalar columns (scale, code min/max/sum, polynomial checksum over
    the full code sequence) so the oracle compare proves every code
    matches without hashing array cells."""
    from sdvg_spark.ops.vectors import quantize_embeddings, qvec_checksum

    emb = _read(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb, "vec_id", "embedding")
    qv = F.col("qvec")
    return q.select(
        "vec_id",
        "scale",
        F.array_min(qv).alias("q_min"),
        F.array_max(qv).alias("q_max"),
        F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")).alias(
            "q_sum"
        ),
        qvec_checksum(qv).alias("q_hash"),
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user aggregates routed through the two-stage salted
    aggregation (ops/skew.py): salting is pure execution strategy, so
    the result must equal a plain GROUP BY — this row proves it against
    an independent engine. Sums ride in integer micro-units (exact,
    order-independent); avg is one bigint/bigint division on both sides.
    r10: the default salt derivation is now spark_partition_id (rows of
    a key in one partition share a shard, so stage 1's map-side combine
    collapses them like a plain aggregate — the row salt multiplied the
    partial key space x32 for zero benefit and spilled 11.3 GB at the
    sf100 probe; hot keys spanning partitions still fan out)."""
    from sdvg_spark.ops.skew import salted_agg

    ev = _read(spark, sf_dir, "events").withColumn("vu", _value_micros())
    out = salted_agg(
        ev,
        ["user_id"],
        {
            "n_events": ("count", "vu"),
            "sum_micros": ("sum", "vu"),
            "avg_micros": ("avg", "vu"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        n_salts=32,
    )
    return out.select(
        "user_id",
        "n_events",
        (F.col("sum_micros").cast("double") / F.lit(1000000.0)).alias("sum_value"),
        (F.col("avg_micros") / F.lit(1000000.0)).alias("avg_value"),
        "min_value",
        "max_value",
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthesize binary payloads + metadata, then
    Arrow-batched decode + image statistics. The fake decoder is
    splitmix64-seeded, so a DuckDB SQL mirror re-derives the exact
    pixels — this is a value-exact oracle row, not rows-only."""
    from sdvg_spark.ops.multimodal import image_features, synth_media

    media = synth_media(spark.range(0, 2000), width=8, height=8, channels=3)
    return image_features(media).select(
        "media_id", "width", "height", "channels", F.round("mean_intensity", 6).alias("mean_intensity")
    )


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio leg of the multimodal plumbing: waveform decode + RMS/peak/
    zero-crossing statistics, value-exact against a SQL mirror of the
    splitmix64 fake waveform (200 clips × 250 ms @ 16 kHz)."""
    from sdvg_spark.ops.multimodal import audio_features, synth_media

    media = synth_media(spark.range(0, 200), duration_ms=250)
    return audio_features(media).select(
        "media_id", "n_samples", "duration_ms",
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
    )


def q_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user aggregate over the event stream (window)."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        _micros_to_value(F.sum(_value_micros()).over(w)).alias("running_value"),
        F.row_number().over(w).alias("event_seq"),
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: last-touch attribution — every error event gets the
    same user's most recent prior-or-equal click (ops/joins.py
    asof_join, auto tier: zero-shuffle broadcast searchsorted at this
    scale, union+window — one shuffle, no join operator, skew-immune —
    when the click side outgrows the row cap). The click side is
    pre-deduped to one row per (user, ts) — the operator's uniqueness
    contract. Oracle: DuckDB's native ASOF LEFT JOIN, a fully
    independent implementation."""
    from sdvg_spark.ops.joins import asof_join

    ev = _read(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(
        err, clk,
        on=["user_id"], left_ts="ts", right_ts="ts",
        payload=["click_id"], matched_ts="click_ts",
    )
    # timestampdiff is NTZ-safe; at µs granularity DuckDB's
    # boundary-counting date_diff('microsecond') is the exact same number
    return out.withColumn(
        "gap_us", F.expr("timestampdiff(MICROSECOND, click_ts, ts)")
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join: clicks landing in the 10 minutes
    after each error, same user — bucketed equi-join (ops/joins.py), a
    plain hash join on (user, 10-min bin), never a
    BroadcastNestedLoopJoin. Aggregated per error window with exact
    micro-unit sums; zero-click errors kept via a left join."""
    from sdvg_spark.ops.joins import range_join

    ev = _read(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("err_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi_ts"),
    )
    clk = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), "value"
    )
    pairs = range_join(
        clk, err,
        on=["user_id"], point_col="c_ts", lo_col="err_ts", hi_col="hi_ts",
        bucket=600_000_000, bounds="(]",  # 10-min µs bins ≈ interval length
    )
    agg = pairs.groupBy("err_id").agg(
        F.count("*").alias("n_clicks"),
        F.sum(_value_micros()).alias("__vu"),
    )
    return (
        err.join(agg, "err_id", "left")
        .select(
            "err_id", "user_id", "err_ts",
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
            _micros_to_value(F.coalesce(F.col("__vu"), F.lit(0))).alias("clicks_value"),
        )
    )


# engine-portable rollup bodies: every construct (GROUPING SETS,
# grouping(), date_trunc, CAST/round) parses identically in Spark SQL
# and DuckDB. Two VALUE-IDENTICAL physical forms (the oracle may use
# either — only values are compared):
#
# * direct: grouping sets straight over the event stream — the cheap
#   plan when the table is small (one pass, no extra exchange);
# * pre-aggregated: the stream first reduces to (type, day, user)
#   partials, so count(DISTINCT user) and the ×4 Expand run over the
#   partial table, never raw events. Algebraic sums/counts compose
#   exactly and a distinct over the partial keys equals the distinct
#   over raw rows. At the sf100 probe the direct form's raw-row
#   Expand + distinct spilled 10.2 GB; the pre-aggregated form halves
#   it (the rest is the fixture's near-raw triple cardinality).
_ROLLUP_DIRECT_SQL = """
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
  CAST(grouping(event_type) AS INT) AS g_type,
  CAST(grouping(date_trunc('day', ts)) AS INT) AS g_day,
  count(*) AS n_events,
  (CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
     / CAST(1000000 AS DOUBLE)) AS total_value,
  count(DISTINCT user_id) AS n_users
FROM {src}
GROUP BY GROUPING SETS ((event_type, date_trunc('day', ts)),
                        (event_type), (date_trunc('day', ts)), ())"""

_ROLLUP_PREAGG_SQL = """
WITH b AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
    user_id, count(*) AS n,
    sum(CAST(round(value * 1000000) AS BIGINT)) AS v
  FROM {src}
  GROUP BY event_type, CAST(date_trunc('day', ts) AS TIMESTAMP), user_id)
SELECT event_type, day,
  CAST(grouping(event_type) AS INT) AS g_type,
  CAST(grouping(day) AS INT) AS g_day,
  CAST(sum(n) AS BIGINT) AS n_events,
  (CAST(sum(v) AS DOUBLE) / CAST(1000000 AS DOUBLE)) AS total_value,
  count(DISTINCT user_id) AS n_users
FROM b
GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())"""

# direct-form tier bound: below this many events the pre-aggregation
# exchange costs more than the raw-row Expand it avoids (measured at
# sf0.1: direct 0.43 s vs pre-agg 0.87 s; at sf100 the direct form
# spills 10.2 GB). Sized from parquet footer metadata (_parquet_rows)
# — genuinely no Spark job.
_ROLLUP_PREAGG_MIN_ROWS = 2_000_000


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: per (type × day),
    per type, per day, and grand total via GROUPING SETS — tiered like
    the dedup joins: the direct single-pass form under
    ``_ROLLUP_PREAGG_MIN_ROWS`` events, the (type, day, user)
    pre-aggregated form above it (see the SQL-body comment for the
    sf100 measurements). Both forms are value-identical, so the DuckDB
    oracle runs one fixed text. Micro-unit sums keep every total
    order-independent."""
    ev = _read(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__sdvg_rollup_events")
    n_events = _parquet_rows(sf_dir, "events")
    if n_events < 0:
        n_events = ev.count()
    sql = (
        _ROLLUP_PREAGG_SQL
        if n_events >= _ROLLUP_PREAGG_MIN_ROWS
        else _ROLLUP_DIRECT_SQL
    )
    return spark.sql(sql.format(src="__sdvg_rollup_events"))


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding-cluster-bucketed semantic dedup — IVF-cell
    assignment (map-only broadcast matmul), within-cell cosine pairs
    (equi-join on the cell id, never all-pairs), connected components,
    one keep/drop decision per vector (ops/dedup.py:semantic_dedup)."""
    from sdvg_spark.ops.dedup import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings")
    # corpus-derived cell count (expected cell ≈ 256 rows at every sf;
    # 16 cells at sf0.01) — fixed cells would revert to all-pairs as
    # the corpus grows; the oracle mirrors the count via subquery LIMIT.
    # Row count from parquet footer metadata — no sizing count job.
    n = _parquet_rows(sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.4,
        n_rows=None if n < 0 else n,
        # vector width from footer metadata: the centroid collect is a
        # single limit-guarded job, not estimate + collect
        dims=_parquet_list_dims(sf_dir, "embeddings", "embedding"),
    )


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: a 6-hour grid per user over the
    user's own event window, each grid point carrying the last event
    value at or before it (LOCF; null before the first event). Two
    shuffles (bounds agg + lead-window over the OBSERVATIONS only);
    the grid rows are sequence-exploded map-side from each event's
    validity interval, never sorted — the r9 sf100 probe measured the
    old grid+as-of union sort at 17.7 GB memory spill
    (ops/joins.py:gap_fill_locf). Oracle: per-key integer grid +
    DuckDB's native ASOF LEFT JOIN."""
    from sdvg_spark.ops.joins import gap_fill_locf

    ev = _read(spark, sf_dir, "events")
    return gap_fill_locf(
        ev.select("user_id", "ts", "value", "event_id"),
        keys=["user_id"], ts_col="ts", value_cols=["value"],
        step_us=21_600_000_000,  # 6 h
        tiebreak_col="event_id",
    )


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of value per event type — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the definition
    ((1-f)·a + f·b over the sorted values), so the numbers agree to the
    9-digit compare tolerance."""
    ev = _read(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.element_at(pct, 1), 9).alias("p50"),
        F.round(F.element_at(pct, 2), 9).alias("p90"),
        F.round(F.element_at(pct, 3), 9).alias("p99"),
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: docs with id < 250 play the already-ingested
    corpus (as its content-hash store); the rest are the new increment.
    Admitted = first-of-content within the batch AND unseen in the
    store (ops/dedup.py:incremental_exact_dedup — batch-sized work,
    store touched only through 32-byte hashes)."""
    from sdvg_spark.ops.dedup import incremental_exact_dedup

    docs = _read(spark, sf_dir, "documents")
    seen = (
        docs.where(F.col("doc_id") < 250)
        .select(F.sha2(F.concat_ws("\x1f", F.col("text")), 256).alias("content_hash"))
        .distinct()
    )
    new = docs.where(F.col("doc_id") >= 250).select("doc_id", "source", "text")
    out = incremental_exact_dedup(new, seen, ["text"], "doc_id")
    return out.select("doc_id", "source", "content_hash")


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-pipeline chunking: 16-token windows at stride 12
    (25% overlap) per document — map-only expressions, stable chunk
    ids under any partitioning (ops/corpus.py:chunk_documents)."""
    from sdvg_spark.ops.corpus import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=16, stride=12)


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: deterministic per-source keep probabilities
    (up/down-weighting a training blend) via the frf stratified
    Bernoulli draw — map-only, partitioning-independent, growth-stable
    (ops/sampling.py:stratified_sample)."""
    from sdvg_spark.ops.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(
        docs, "doc_id", "source", _MIX_FRACTIONS, default=0.1, seed=11
    )


_MIX_FRACTIONS = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sample: exactly 7 docs per source, ranked
    by the frf(id) draw with id tiebreak — partition-stable and
    engine-exact, unlike Bernoulli sampleBy
    (ops/sampling.py:stratified_sample_exact)."""
    from sdvg_spark.ops.sampling import stratified_sample_exact

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample_exact(
        docs, "doc_id", "source", n_per_stratum=7, seed=11
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 12-token spans (bounded substring-level
    dedup signal): ids + 60-bit fingerprints shuffle, gram text never
    does (ops/corpus.py:duplicate_spans)."""
    from sdvg_spark.ops.corpus import duplicate_spans

    docs = _read(spark, sf_dir, "documents")
    return duplicate_spans(docs, "doc_id", "text", span_tokens=12, min_docs=2)


def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal: per-doc mean negative
    log-likelihood + perplexity under a Lidstone-smoothed top-500
    unigram model fit on the corpus itself; token-order-deterministic
    folds on both engines (ops/corpus.py:unigram_nll). Runs the
    corpus.py scale tier (map-side N, RLE-postings vocab — the shared
    ops/text.py:rle_postings fold — persisted-aggregate V, in-row
    Arrow fold against the broadcast top-N vocab: the scored stage is
    MAP-ONLY) — value-identical to the corpus.py reference shape
    (pytest-pinned), and the fix for the sf100 spill: 20.7 GB (r9) →
    7.0 GB (window fold) → ZERO, with shuffle write 2155 → 6.6 MB
    (SHUFFLE_r10 late follow-up)."""
    from sdvg_spark.ops.corpus import unigram_nll_tiered

    docs = _read(spark, sf_dir, "documents")
    n = _parquet_rows(sf_dir, "documents")
    return unigram_nll_tiered(
        docs, "doc_id", "text", top_n=500, n_docs=None if n < 0 else n
    )


def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-class transition quality signal: per-doc mean NLL +
    perplexity of token TRANSITIONS under an add-α bigram model fit on
    the corpus (ops/corpus.py:bigram_nll) — the smallest LM that sees
    word order, next to unigram_nll's frequency-only axis. Born on the
    scale tier: two token-keyed count aggregates, broadcast ln-p
    dicts, and a MAP-ONLY in-row Arrow fold for the scored stage (the
    shape the r10 unigram spill fix converged to); transition-order
    sequential folds on both engines."""
    from sdvg_spark.ops.corpus import bigram_nll

    docs = _read(spark, sf_dir, "documents")
    return bigram_nll(docs, "doc_id", "text", top_n=2000, ctx_top_n=2000)


def q_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup REWRITE: every flagged span keeps its
    first (doc, start) occurrence and is masked everywhere else; docs
    come back as the trimmed normalized token stream with mask counts
    (ops/corpus.py:remove_duplicate_spans)."""
    from sdvg_spark.ops.corpus import remove_duplicate_spans

    docs = _read(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "doc_id", "text", span_tokens=12, min_docs=2)


def q_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: per-doc char fraction covered
    by the most frequent 2-/3-gram and by all duplicated 5-grams —
    map-only sorted-run folds, zero shuffle
    (ops/text.py:repetition_features)."""
    from sdvg_spark.ops import text as T
    from sdvg_spark.ops.dedup import widen

    docs = widen(_read(spark, sf_dir, "documents"))

    def build() -> list:
        rf = T.repetition_features(F.col("__toks"), F.col("__toks"))
        return [
            [F.col("doc_id"), T.tokens(F.col("text")).alias("__toks")],
            [F.col("doc_id"), *[F.round(c, 9).alias(k) for k, c in rf.items()]],
        ]

    stage_cols, out_cols = _memo_exprs("repetition_features", build)
    return docs.select(*stage_cols).select(*out_cols)


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel with a 7-day conversion
    window from funnel entry: per-step min-agg + user-keyed left
    joins, one row per entered user with step timestamps and depth
    (ops/analytics.py:funnel)."""
    from sdvg_spark.ops.analytics import funnel

    ev = _read(spark, sf_dir, "events")
    return funnel(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within_seconds=7 * 86400,
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix: cohort = day of first event,
    n_users active per (cohort_day, day_offset) — user-keyed shuffles
    only (ops/analytics.py:cohort_retention)."""
    from sdvg_spark.ops.analytics import cohort_retention

    ev = _read(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", max_offset_days=90)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health scalar: least-squares Zipf slope/intercept/r2 of
    ln(tf) on ln(rank) over the top-500 vocabulary — rank-ordered
    folds, one token shuffle (ops/corpus.py:zipf_fit)."""
    from sdvg_spark.ops.corpus import zipf_fit

    docs = _read(spark, sf_dir, "documents")
    return zipf_fit(docs, "doc_id", "text", top_n=500)


def q_quality_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-band quality gate: events rows whose value sits inside
    the exact [p05, p95] corpus band — single-scan exact-percentile
    bounds, then a pushed map-only filter (ops/sampling.py:
    quantile_band_filter)."""
    from sdvg_spark.ops.sampling import quantile_band_filter

    ev = _read(spark, sf_dir, "events").select("event_id", "value")
    return quantile_band_filter(ev, "value", lower_q=0.05, upper_q=0.95)


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup increment admission (ops/dedup.py:
    incremental_minhash_dedup): batch = doc_id % 7 = 0 probed against
    the rest of the corpus through its (band, bhash) store — corpus
    touched only via the index + candidate point lookups; decisions
    exact-verified, so plain exact-Jaccard SQL is the oracle.

    threshold=0.8 with the default 32 bands (r=4): a borderline pair at
    s=0.8 is missed by the banding with p=(1-0.8^4)^32 ≈ 5e-8, so the
    LSH recall argument genuinely covers the oracle equivalence (the r6
    setting — 0.4 at 21 bands — had miss p ≈ 0.92 at the boundary and
    was green only because the fixture corpus is bimodal)."""
    from sdvg_spark.ops.dedup import incremental_minhash_dedup, minhash_band_store

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    store = minhash_band_store(corpus, "doc_id", "text", bands=32)
    return incremental_minhash_dedup(
        batch, corpus, store, "doc_id", "text", bands=32, threshold=0.8
    )


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 per query over documents (ops/text.py:
    bm25_topk): lexical retrieval next to the ANN family — map-side
    query-term pruning, broadcast df/query tables, rounded-score rank."""
    from sdvg_spark.ops.text import bm25_topk

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, BM25_QUERIES, "doc_id", "text", topk=10)


BM25_QUERIES = [
    (1, "spark shuffle join"),
    (2, "table scan filter"),
    (3, "window agg stream"),
]


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (ops/corpus.py: dsir_logweights):
    hashed-unigram log-likelihood ratio of the lang='en' target slice
    vs the raw corpus — two bucket aggs + broadcast LLR table +
    token-ordered fold. Runs the corpus.py scale tier (the ≤256-row
    LLR table collected into an array literal, Σ llr[bucket(tok)]
    folded IN-ROW) — value-identical (pytest-pinned), faster at every
    measured size (sf10: 83→50 s), scored stage map-only (the per-doc
    collect_list buffer was the operator's entire 18.6 GB sf100
    spill)."""
    from sdvg_spark.ops.corpus import dsir_logweights_tiered

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = docs.where(F.col("lang") == "en")
    n = _parquet_rows(sf_dir, "documents")
    return dsir_logweights_tiered(
        docs.select("doc_id", "text"), target.select("doc_id", "text"),
        n_docs=None if n < 0 else n,
    )


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (ops/joins.py: interval_join): per user,
    'view' activity windows [(ts, ts + 1..5 h)] overlapping 'error'
    windows [(ts, ts + 1..3 h)], half-open — bucketed equi-join with
    emit-once-at-overlap-start, never a nested loop."""
    from sdvg_spark.ops.joins import interval_join

    ev = _read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    def windows(etype: str, idc: str, loc: str, hic: str, mod: int) -> DataFrame:
        dur = (F.col("event_id") % mod + 1) * F.lit(3_600_000_000)
        return ev.where(F.col("event_type") == etype).select(
            "user_id",
            F.col("event_id").alias(idc),
            F.col("ts").alias(loc),
            F.timestamp_micros(us + dur).alias(hic),
        )

    return interval_join(
        windows("view", "v_id", "v_start", "v_end", 5),
        windows("error", "e_id", "e_start", "e_end", 3),
        on=["user_id"],
        left_lo="v_start",
        left_hi="v_end",
        right_lo="e_start",
        right_hi="e_end",
        bucket=7_200_000_000,
        bounds="[)",
    )


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first token-budget curation: documents ranked by round-9
    quality score, selected while the global running token total fits
    15k tokens — the bucketed float-axis prefix-sum (ops/sampling.py:
    token_budget_sample), never a single-partition corpus window."""
    from sdvg_spark.ops import text as T
    from sdvg_spark.ops.dedup import widen
    from sdvg_spark.ops.sampling import token_budget_sample

    docs = _read(spark, sf_dir, "documents")
    staged = widen(docs).select(
        "doc_id", F.col("text").alias("__t"), T.tokens(F.col("text")).alias("__toks")
    )
    scored = staged.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.round(T.quality_score(F.col("__t"), F.col("__toks")), 9).alias("q"),
    )
    return token_budget_sample(
        scored, "doc_id", "n_tokens", "q", budget=15_000, n_bins=64
    )


# Deterministic URL fixture for the web ops: the documents table carries
# no URL column, so both engines synthesize one from doc_id with this
# SHARED SQL expression (Spark F.expr and DuckDB evaluate it
# identically). The case/www/port/slash/tracking/fragment/param-order
# variation all canonicalizes AWAY; the canonical key is
# (doc_id % 5 site, doc_id % 8 path, doc_id % 3 query class), so the
# sf0.01 corpus collapses 500 raw URLs into 120 canonical ones.
URL_FIXTURE_SQL = (
    "(CASE WHEN doc_id % 4 < 2 THEN 'http' WHEN doc_id % 4 = 2 THEN 'HTTP'"
    " ELSE 'hTTp' END)"
    " || '://'"
    # host: a plain .com family, a co.uk family (PSL 3-label domains),
    # a k12.ma.us family (3-label public suffix -> 4-label domains),
    # and a bracketed-IPv6 authority with a non-default port
    " || (CASE WHEN doc_id % 10 = 9 THEN '[2001:DB8::1]:8080'"
    " WHEN doc_id % 10 = 7 THEN"
    " 'dist-' || CAST(doc_id % 2 AS STRING) || '.K12.MA.US'"
    " WHEN doc_id % 10 = 8 THEN"
    " (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)"
    " || 'shop-' || CAST(doc_id % 3 AS STRING) || '.Example.CO.UK'"
    " ELSE (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)"
    " || 'site-' || CAST(doc_id % 5 AS STRING) || '.Example.COM'"
    " || (CASE WHEN doc_id % 6 = 0 THEN ':80' ELSE '' END) END)"
    " || '/Docs/' || CAST(doc_id % 8 AS STRING)"
    " || (CASE WHEN doc_id % 9 = 0 THEN '/' ELSE '' END)"
    # ref=main must SURVIVE canonicalization (content-bearing, not a
    # tracking param); fbclid must not
    " || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'"
    " WHEN doc_id % 3 = 1 THEN '?b=2&a=1' ELSE '?a=1&fbclid=track&ref=main' END)"
    " || (CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END)"
)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain canonicalization (ops/web.py:canonicalize_url): the
    CommonCrawl-style normalize step before any web dedup — map-only
    codegen expressions, zero shuffle. The registered domain is
    authored as ONE parsed SQL string over the staged host column
    (registered_domain_sql): the Column form's ~1100-literal isin costs
    ~0.6 s of py4j lit() round trips to build (the r8 url_dedup 2×
    story) while the parsed form is one driver call."""
    from sdvg_spark.ops.web import canonicalize_url, registered_domain_sql, url_parts

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    u = docs.withColumn("url", F.expr(URL_FIXTURE_SQL))
    staged = u.select(
        "doc_id",
        "url",
        canonicalize_url(F.col("url")).alias("canon_url"),
        url_parts(F.col("url"))["host"].alias("__host"),
    )
    return staged.select(
        "doc_id",
        "url",
        "canon_url",
        F.expr(registered_domain_sql("__host", dialect="spark")).alias("domain"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (ops/web.py:url_dedup): one row per canonical
    URL with the smallest contributing doc_id and the collapse count —
    a single map-side-combined hash agg on ~60-byte keys."""
    from sdvg_spark.ops.web import url_dedup

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    u = docs.withColumn("url", F.expr(URL_FIXTURE_SQL))
    return url_dedup(u, "doc_id", "url")


def q_language_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID with confidence (ops/text.py:language_scores):
    lang_pred + the winner's per-token stopword hit ratio and its
    margin over the runner-up — the keep/route threshold signal next
    to the bare label. Tokens and the one-pass hit fold are STAGED
    behind projections (HOF folds see no subexpression elimination)."""
    from sdvg_spark.ops import text as T
    from sdvg_spark.ops.dedup import widen

    docs = widen(_read(spark, sf_dir, "documents").select("doc_id", "text"))

    def build() -> list:
        sc = T.language_scores(
            F.col("text"), toks=F.col("__toks"), hits=F.col("__hits")
        )
        return [
            [
                F.col("doc_id"),
                F.col("text"),
                T.tokens(F.col("text")).alias("__toks"),
            ],
            [F.col("doc_id"), F.col("text"), F.col("__toks"), T.lang_hits(F.col("__toks")).alias("__hits")],
            [
                F.col("doc_id"),
                sc["lang_pred"].alias("lang_pred"),
                sc["lang_score"].alias("lang_score"),
                sc["lang_margin"].alias("lang_margin"),
            ],
        ]

    s1, s2, out_cols = _memo_exprs("language_confidence", build)
    return docs.select(*s1).select(*s2).select(*out_cols)


# Paragraph-structured fixture for paragraph_dedup: documents carry no
# newlines, so both engines wrap each text with boilerplate paragraphs
# via this SHARED SQL expression — a per-source header, one of two
# footers, and an occasional promo line. The header/footer/promo
# paragraphs duplicate corpus-wide (the boilerplate CCNet strips); the
# original text stays unique per doc.
PARA_FIXTURE_SQL = (
    "('About the ' || source || ' portal')"
    " || chr(10) || text || chr(10) ||"
    " (CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter'"
    " ELSE 'Contact support for help' END)"
    " || (CASE WHEN doc_id % 5 = 0 THEN"
    " chr(10) || 'Promo code ' || CAST(doc_id % 3 AS STRING) ELSE '' END)"
)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level dedup (ops/dedup.py:paragraph_dedup):
    boilerplate paragraphs shared across documents survive only at
    their first corpus-wide occurrence; each doc is reassembled from
    its surviving paragraphs. WindowGroupLimit pre-prunes the
    paragraph window map-side."""
    from sdvg_spark.ops.dedup import paragraph_dedup

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    d = docs.withColumn("ptext", F.expr(PARA_FIXTURE_SQL))
    return paragraph_dedup(d, "doc_id", "ptext")


# HTML-wrapped fixture for html_to_text: both engines wrap each doc in
# the same markup (title/script/style/headline/paragraph/entities) via
# one shared SQL expression.
HTML_FIXTURE_SQL = (
    "'<html><head><TITLE>Doc ' || CAST(doc_id AS STRING) || '</TITLE>'"
    " || (CASE WHEN doc_id % 3 = 0 THEN '<script>var a = 1 < 2;</script>'"
    " ELSE '' END)"
    " || (CASE WHEN doc_id % 4 = 0 THEN '<style>.x { color: red }</style>'"
    " ELSE '' END)"
    " || '</head><body><h1>' || source || '</h1><p>' || text || '</p>'"
    # numeric-entity coverage: hex x27 / uppercase X27 / decimal 8217
    " || (CASE WHEN doc_id % 2 = 0 THEN 'Tail &amp; more&#8217;s"
    " &#x27;q&#X27; &#8230;<br/>last' ELSE '' END)"
    " || '</body></html>'"
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible text (ops/web.py:html_to_text): script/style
    bodies dropped, br/p become newlines, tags stripped, entities
    decoded, whitespace collapsed — map-only codegen regexes, the
    fetch→text step before every text op."""
    from sdvg_spark.ops.web import html_to_text

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    h = docs.withColumn("html", F.expr(HTML_FIXTURE_SQL))
    # stage the extraction once; the length reads the materialized column
    staged = h.select("doc_id", html_to_text(F.col("html")).alias("clean_text"))
    return staged.select(
        "doc_id",
        "clean_text",
        F.length("clean_text").cast("long").alias("n_chars_clean"),
    )


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming funnel, driver-checked (streaming/ops.py:
    stream_funnel_replay): fixture events replayed as 3 event-time-
    ordered micro-batches through applyInPandasWithState, final row per
    user returned as a batch DataFrame. Under in-order per-user
    delivery the result equals the batch funnel, so the batch funnel's
    oracle SQL is its oracle (same steps and window as events_funnel)."""
    from sdvg_spark.streaming import stream_funnel_replay

    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return stream_funnel_replay(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within_seconds=7 * 86400,
    )


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: top-15 docs per source by round-9 quality
    (ties by id) via the salted pre-prune + exact window
    (ops/sampling.py: source_cap) — no single-task giant domains."""
    from sdvg_spark.ops import text as T
    from sdvg_spark.ops.sampling import source_cap

    docs = _read(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        F.col("text").alias("__t"),
        T.tokens(F.col("text")).alias("__toks"),
    )
    scored = staged.select(
        "doc_id",
        "source",
        F.round(T.quality_score(F.col("__t"), F.col("__toks")), 9).alias("q"),
    )
    return source_cap(scored, "doc_id", "source", "q", max_rows=15)


def q_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift scorecard: KL/JS divergence between the unigram
    distributions of the even- and odd-doc_id halves of documents —
    one row of nats, token-ordered folds (ops/corpus.py:
    token_divergence)."""
    from sdvg_spark.ops.corpus import token_divergence

    docs = _read(spark, sf_dir, "documents")
    return token_divergence(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        "text",
        top_n=500,
    )


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations (pair_count >= 3) — integer-count
    shuffles, single-division deterministic ranking, PMI display-only
    (ops/corpus.py:collocations)."""
    from sdvg_spark.ops.corpus import collocations

    docs = _read(spark, sf_dir, "documents")
    return collocations(docs, "doc_id", "text", min_count=3, top_n=50)


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document — integer-deterministic
    ranking (tf DESC, df ASC, token), float score display-only
    (ops/text.py:tfidf_topk). Corpus count (score literal + tier
    probe) from parquet footer metadata — no plan-build count job."""
    from sdvg_spark.ops.text import tfidf_topk

    docs = _read(spark, sf_dir, "documents")
    n = _parquet_rows(sf_dir, "documents")
    return tfidf_topk(
        docs, "doc_id", "text", top_n=3, n_docs=None if n < 0 else n
    )


# ---------------------------------------------------------------------------
# contract surface


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full curation pipeline (filter -> dedup -> redact
    -> split -> pack) over the sf0.001 documents, joined with source
    metadata — one row per input doc with its complete disposition."""
    sf = "/root/testdata/sf0.001"
    cur = q_curate(spark, sf)
    docs = _read(spark, sf, "documents")
    return docs.select("doc_id", "lang", "source").join(cur, "doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (model, column) in _GEN_QUERIES.items():
        out[name] = _gen_query(model, column)
    out.update(
        {
            "text_features": q_text_features,
            "dedup_exact": q_dedup_exact,
            "dedup_jaccard": q_dedup_jaccard,
            "dedup_minhash": q_dedup_minhash,
            "dedup_simhash": q_dedup_simhash,
            "dedup_components": q_dedup_components,
            "dedup_embedding": q_dedup_embedding,
            "ann_topk": q_ann_topk,
            "ann_lsh": q_ann_lsh,
            "ann_ivf": q_ann_ivf,
            "ann_ivf_index": q_ann_ivf_index,
            "ann_recall": q_ann_recall,
            "pricing_summary": q_pricing_summary,
            "top_revenue": q_top_revenue,
            "events_sessionize": q_events_sessionize,
            "events_hourly": q_events_hourly,
            "events_session_window": q_events_session_window,
            "media_features": q_media_features,
            "media_audio_features": q_media_audio_features,
            "user_running_value": q_user_running_value,
            "skew_salted_agg": q_skew_salted_agg,
            "data_split": q_data_split,
            "data_split_by_source": q_data_split_by_source,
            "embedding_quantize": q_embedding_quantize,
            "ann_quantized": q_ann_quantized,
            "corpus_vocab": q_corpus_vocab,
            "decontaminate": q_decontaminate,
            "pack_sequences": q_pack_sequences,
            "pack_sequences_chars": q_pack_sequences_chars,
            "pack_nostraddle": q_pack_nostraddle,
            "pack_order": q_pack_order,
            "pii_redact": q_pii_redact,
            "curate": q_curate,
            "profile_events": q_profile_events,
            "events_asof": q_events_asof,
            "events_range_join": q_events_range_join,
            "events_rollup": q_events_rollup,
            "dedup_semantic": q_dedup_semantic,
            "tfidf_keywords": q_tfidf_keywords,
            "events_gapfill": q_events_gapfill,
            "events_percentiles": q_events_percentiles,
            "doc_chunks": q_doc_chunks,
            "corpus_mix": q_corpus_mix,
            "dedup_incremental": q_dedup_incremental,
            "stratified_sample": q_stratified_sample,
            "duplicate_spans": q_duplicate_spans,
            "remove_duplicate_spans": q_remove_duplicate_spans,
            "unigram_nll": q_unigram_nll,
            "bigram_nll": q_bigram_nll,
            "repetition_features": q_repetition_features,
            "events_funnel": q_events_funnel,
            "events_retention": q_events_retention,
            "collocations": q_collocations,
            "token_divergence": q_token_divergence,
            "quality_band": q_quality_band,
            "zipf_fit": q_zipf_fit,
            "token_budget_sample": q_token_budget_sample,
            "source_cap": q_source_cap,
            "events_interval_join": q_events_interval_join,
            "dedup_incremental_minhash": q_dedup_incremental_minhash,
            "bm25_retrieval": q_bm25_retrieval,
            "dsir_weights": q_dsir_weights,
            "url_canonicalize": q_url_canonicalize,
            "url_dedup": q_url_dedup,
            "language_confidence": q_language_confidence,
            "stream_funnel": q_stream_funnel,
            "paragraph_dedup": q_paragraph_dedup,
            "html_extract": q_html_extract,
        }
    )
    # The driver's correctness gate evaluates the FIRST 50 entries of
    # this dict; 86 exist, so 36 sit past the cap every round. Rotation
    # is governed by the ledger invariant (tools/rotation_ledger.py +
    # tests/test_rotation.py): a query may sit past the cap ONLY if it
    # has a green driver row, neither its op modules nor its q_* wrapper
    # (including transitively composed q_* callees) changed since that
    # row, AND the row is from the latest or the immediately previous
    # completed round (freshness budget 1 against max(recorded rounds)
    # — the halves of the query set alternate through the window round
    # over round). The full 86 stay covered by tools/check_entry.py
    # (EXACT=1) locally.
    #
    # r13 window (in): every row certified before r12 — the 18 gen_*
    # rows, the analytics/profile/skew/multimodal/vectors/sampling/web
    # singles and four wrapper-only SQL rows (32 r10 + 4 r11 rows, which
    # reach age 2 at r13 and must re-certify) — plus 14 r12 rows
    # over the modules r13 edits: the six ann_* rows (similarity.py),
    # the four events_* join rows (joins.py), events_hourly /
    # events_session_window / stream_funnel (streaming/) and url_dedup
    # (web.py). With them in-window, generation (engine.py, core/,
    # generators/, config/, oracle.py), analytics, multimodal, profile,
    # skew, vectors, similarity, joins, streaming and web are free to
    # edit in r13.
    # r13 deferred (below): the 36 other r12 rows — corpus.py, dedup.py,
    # text.py, sampling, pipeline and ordering plus the wrapper-only
    # SQL rollup/percentiles rows. Those modules stay frozen in r13.
    # r14 plan: these 36 reach age 2 and rotate IN, freeing
    # corpus/dedup/text/sampling/pipeline/ordering for edits; the rows
    # r13 re-certifies are deferred in their place.
    deferred = [
        "text_features",
        "dedup_exact",
        "dedup_jaccard",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_components",
        "dedup_embedding",
        "corpus_vocab",
        "decontaminate",
        "pack_sequences",
        "pack_sequences_chars",
        "pack_nostraddle",
        "pack_order",
        "pii_redact",
        "curate",
        "events_rollup",
        "dedup_semantic",
        "tfidf_keywords",
        "events_percentiles",
        "doc_chunks",
        "dedup_incremental",
        "duplicate_spans",
        "remove_duplicate_spans",
        "unigram_nll",
        "bigram_nll",
        "repetition_features",
        "collocations",
        "token_divergence",
        "zipf_fit",
        "token_budget_sample",
        "source_cap",
        "dedup_incremental_minhash",
        "bm25_retrieval",
        "dsir_weights",
        "language_confidence",
        "paragraph_dedup",
    ]
    head = {k: v for k, v in out.items() if k not in deferred}
    return {**head, **{k: out[k] for k in deferred}}


def oracle_sql() -> dict[str, str]:
    from sdvg_spark.ops import text as T

    cfg = parse_config(GEN_CFG)
    out: dict[str, str] = {}
    for name, (model, column) in _GEN_QUERIES.items():
        if name in _NO_ORACLE:
            continue
        sql = column_oracle_sql(cfg, model, column)
        if sql is not None:
            out[name] = sql

    _sqf = T.sql_quality_features("text")
    out["text_features"] = f"""SELECT doc_id,
  {T.sql_whitespace_token_count('text')} AS n_tokens,
  {T.sql_regex_token_count('text')} AS n_bpe_tokens,
  {T.sql_detect_language('text')} AS lang_pred,
  round({T.sql_quality_score('text')}, 9) AS quality,
  {_sqf['dup_token_ratio']} AS dup_token_ratio,
  {_sqf['dup_line_ratio']} AS dup_line_ratio,
  round({T.sql_token_entropy('text')}, 9) AS token_entropy,
  {T.sql_fingerprint('text')} AS fingerprint
FROM documents"""

    out["dedup_exact"] = """
SELECT doc_id, source FROM (
  SELECT doc_id, source, row_number() OVER (PARTITION BY text ORDER BY doc_id) rn
  FROM documents) WHERE rn = 1"""

    _jacc = """
WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(lower(text))-4, 1)+1),
       i -> substr(lower(text), i, 5))) AS s FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(len(list_intersect(a.s,b.s))::DOUBLE
        / (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s)))::DOUBLE, 9) AS jaccard
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.s,b.s))::DOUBLE
      / (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s)))::DOUBLE >= 0.4"""
    out["dedup_jaccard"] = _jacc
    # minhash-LSH at bands=64 + exact verification has recall ~1-1e-5
    # at threshold 0.4 (verified identical on the driver testdata), so
    # the exact-Jaccard SQL is its oracle too — a red cell here means
    # the LSH pipeline dropped or fabricated a pair.
    out["dedup_minhash"] = _jacc

    from sdvg_spark.ops.dedup import (
        connected_components_oracle_sql,
        simhash_pairs_oracle_sql,
    )

    out["dedup_simhash"] = simhash_pairs_oracle_sql(max_distance=6)
    out["dedup_components"] = connected_components_oracle_sql(
        nodes_sql="SELECT doc_id FROM documents",
        edges_sql=_jacc,
    )

    out["dedup_embedding"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45"""

    from sdvg_spark.ops.similarity import ivf_topk_oracle_sql, lsh_topk_oracle_sql

    out["ann_lsh"] = lsh_topk_oracle_sql(
        k=10, n_planes=6, n_tables=16, multiprobe=1, seed=7, dims=64
    )
    out["ann_ivf"] = ivf_topk_oracle_sql(k=10, n_cells=16, n_probe=12)
    # the persisted-index search is value-equal to the in-memory ivf
    # variant by construction (n_iters=0 + full-corpus sample -> same
    # centroids; same assignment kernel; same cosine arithmetic), so the
    # same SQL is its oracle — a red cell here means the partition-pruned
    # scan dropped or corrupted candidates
    out["ann_ivf_index"] = ivf_topk_oracle_sql(k=10, n_cells=16, n_probe=12)

    _exact_sql = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 50 = 0),
s AS (SELECT q_id, e.vec_id AS c_id,
        list_cosine_similarity(q_vec::DOUBLE[], e.embedding::DOUBLE[]) AS cos
      FROM q, embeddings e),
r AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM s)
SELECT q_id, c_id, rank FROM r WHERE rank <= 10"""

    from sdvg_spark.ops.similarity import quantized_rescore_oracle_sql

    out["ann_recall"] = f"""
WITH exact AS (SELECT q_id, c_id FROM ({_exact_sql}) t),
a_ivf AS (SELECT q_id, c_id FROM ({ivf_topk_oracle_sql(k=10, n_cells=16, n_probe=12)}) t),
a_lsh AS (SELECT q_id, c_id FROM ({lsh_topk_oracle_sql(k=10, n_planes=6, n_tables=16, multiprobe=1, seed=7, dims=64)}) t),
a_qz AS (SELECT q_id, c_id FROM ({quantized_rescore_oracle_sql(k=10, shortlist=4)}) t),
approx AS (
  SELECT 'ivf' AS method, q_id, c_id FROM a_ivf
  UNION ALL SELECT 'lsh', q_id, c_id FROM a_lsh
  UNION ALL SELECT 'quantized', q_id, c_id FROM a_qz),
hits AS (
  SELECT method, count(*) AS n_approx, count(e.q_id) AS hits
  FROM approx a LEFT JOIN exact e ON e.q_id = a.q_id AND e.c_id = a.c_id
  GROUP BY method),
n AS (SELECT count(*) AS n_exact FROM exact)
SELECT method, n_approx, hits, n_exact,
  round(hits::DOUBLE / n_exact, 9) AS recall
FROM hits, n"""

    out["ann_topk"] = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 50 = 0),
s AS (SELECT q_id, e.vec_id AS c_id,
        list_cosine_similarity(q_vec::DOUBLE[], e.embedding::DOUBLE[]) AS cos
      FROM q, embeddings e),
r AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM s)
SELECT q_id, c_id, rank FROM r WHERE rank <= 10"""

    out["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 6) AS avg_qty,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""

    out["top_revenue"] = """
WITH rev AS (SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS rev
             FROM lineitem GROUP BY l_orderkey)
SELECT c_mktsegment, round(sum(rev), 2) AS segment_revenue, count(*) AS n_orders
FROM orders JOIN rev ON o_orderkey = rev.l_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment"""

    out["events_sessionize"] = f"""
WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events),
g AS (SELECT user_id, event_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
             OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM g)
SELECT user_id, session_seq, count(*) AS n_events, {_SQL_VSUM} AS session_value
FROM s GROUP BY user_id, session_seq"""

    from sdvg_spark.ops.sampling import hash_split_oracle_sql

    out["data_split"] = hash_split_oracle_sql(
        table="events",
        id_col="event_id",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
        seed=42,
    )
    from sdvg_spark.ops.vectors import quantize_oracle_sql

    out["embedding_quantize"] = quantize_oracle_sql()

    from sdvg_spark.ops.similarity import quantized_rescore_oracle_sql

    out["ann_quantized"] = quantized_rescore_oracle_sql(k=10, shortlist=4)

    from sdvg_spark.ops.corpus import (
        corpus_vocab_oracle_sql,
        decontaminate_oracle_sql,
    )

    out["corpus_vocab"] = corpus_vocab_oracle_sql(top_n=500)
    out["decontaminate"] = decontaminate_oracle_sql(
        bench_filter="doc_id % 97 = 0", n=8
    )

    from sdvg_spark.ops.corpus import pack_sequences_oracle_sql

    out["pack_sequences"] = pack_sequences_oracle_sql(budget=2048)

    from sdvg_spark.ops.corpus import pack_sequences_nostraddle_oracle_sql

    out["pack_sequences_chars"] = pack_sequences_oracle_sql(
        n_tokens_sql="n_chars", budget=8192
    )
    out["pack_nostraddle"] = pack_sequences_nostraddle_oracle_sql(
        budget=2048, n_shards=64
    )

    from sdvg_spark.ops.ordering import training_order_oracle_sql

    # pack oracle (char budget) -> lead-doc source tag -> blending key;
    # the pack CTE is the SAME text as the pack_sequences_chars oracle
    _pack_cte = pack_sequences_oracle_sql(
        n_tokens_sql="n_chars", budget=_PACK_ORDER_BUDGET
    ).strip()
    out["pack_order"] = training_order_oracle_sql(
        table="packs",
        id_col="pack_id",
        seed=_PACK_ORDER_SEED,
        source_col="source",
        weight_expr=_PACK_ORDER_WEIGHT_EXPR,
        select_cols="pack_id, lead_doc, source, n_docs",
        prelude_ctes=(
            f"p0 AS ({_pack_cte}),\n"
            "l AS (SELECT pack_id, doc_id AS lead_doc,\n"
            "  row_number() OVER (PARTITION BY pack_id"
            " ORDER BY pack_offset, doc_id) AS rn,\n"
            "  count(*) OVER (PARTITION BY pack_id) AS n_docs FROM p0),\n"
            "packs AS (SELECT l.pack_id, l.lead_doc, d.source, l.n_docs\n"
            "  FROM l JOIN documents d ON d.doc_id = l.lead_doc WHERE rn = 1),\n"
        ),
    )

    from sdvg_spark.ops.pipeline import CurationConfig, curate_oracle_sql

    out["curate"] = curate_oracle_sql(
        CurationConfig(
            lang="en",
            min_quality=0.6,
            dedup_threshold=0.4,
            minhash_bands=21,
            split={"train": 0.8, "val": 0.1, "test": 0.1},
            split_seed=7,
            pack_budget=2048,
            pack_buckets=64,
        )
    )

    from sdvg_spark.ops.profile import profile_table_oracle_sql

    _ev_cols = [
        ("event_id", "bigint"), ("ts", "timestamp"), ("user_id", "bigint"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ]
    out["profile_events"] = (
        "WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, "
        "event_type, value, props FROM events)\n"
        + profile_table_oracle_sql(table="e", columns=_ev_cols)
    )

    _pii = T.sql_pii_counts("text")
    _red = T.sql_redact_pii("text")
    out["pii_redact"] = f"""SELECT doc_id,
  {', '.join(f'{v} AS {k}' for k, v in _pii.items())},
  length({_red}) AS redacted_len,
  {T.sql_fingerprint(_red)} AS redacted_fp
FROM documents"""

    out["events_asof"] = """
WITH e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type FROM events),
err AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'error'),
clk AS (SELECT user_id, ts, max(event_id) AS click_id
        FROM e WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT err.event_id, err.user_id, err.ts, clk.ts AS click_ts, clk.click_id,
  date_diff('microsecond', clk.ts, err.ts) AS gap_us
FROM err ASOF LEFT JOIN clk
  ON err.user_id = clk.user_id AND err.ts >= clk.ts"""

    out["events_range_join"] = """
WITH e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type, value FROM events),
err AS (SELECT event_id AS err_id, user_id, ts AS err_ts FROM e WHERE event_type = 'error'),
clk AS (SELECT user_id, ts AS c_ts, value FROM e WHERE event_type = 'click')
SELECT err.err_id, err.user_id, err.err_ts,
  count(clk.c_ts) AS n_clicks,
  (coalesce(sum(round(clk.value * 1000000)::BIGINT), 0) / 1000000.0) AS clicks_value
FROM err LEFT JOIN clk
  ON clk.user_id = err.user_id
 AND clk.c_ts > err.err_ts
 AND clk.c_ts <= err.err_ts + INTERVAL 10 MINUTE
GROUP BY err.err_id, err.user_id, err.err_ts"""

    # ONE portable SQL body serves as both the Spark query and the
    # DuckDB oracle — the strongest possible parity statement.
    out["events_rollup"] = _ROLLUP_PREAGG_SQL.format(
        src="(SELECT event_type, ts::TIMESTAMP AS ts, user_id, value FROM events) e"
    )

    from sdvg_spark.ops.dedup import semantic_dedup_oracle_sql

    out["dedup_semantic"] = semantic_dedup_oracle_sql(threshold=0.4)

    out["tfidf_keywords"] = T.tfidf_topk_oracle_sql(top_n=3)

    out["events_gapfill"] = """
WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, value, event_id FROM events),
obs AS (SELECT user_id, us, arg_max(value, event_id) AS value
        FROM e GROUP BY user_id, us),
b AS (SELECT user_id, min(us) AS mn, max(us) AS mx FROM e GROUP BY user_id),
grid AS (SELECT user_id,
                unnest(range(mn - ((mn % 21600000000 + 21600000000) % 21600000000),
                             mx + 1, 21600000000)) AS g_us
         FROM b)
SELECT grid.user_id, make_timestamp(grid.g_us) AS ts, obs.us AS obs_us, obs.value
FROM grid ASOF LEFT JOIN obs
  ON grid.user_id = obs.user_id AND grid.g_us >= obs.us"""

    from sdvg_spark.ops.corpus import chunk_documents_oracle_sql
    from sdvg_spark.ops.sampling import stratified_sample_oracle_sql

    out["doc_chunks"] = chunk_documents_oracle_sql(chunk_tokens=16, stride=12)

    from sdvg_spark.ops.dedup import sql_incremental_exact_dedup

    out["dedup_incremental"] = (
        "SELECT doc_id, source, content_hash FROM ("
        + sql_incremental_exact_dedup(
            new_sql="SELECT doc_id, source, text FROM documents WHERE doc_id >= 250",
            seen_sql=(
                "SELECT DISTINCT sha256(concat_ws(chr(31), text)) AS content_hash "
                "FROM documents WHERE doc_id < 250"
            ),
            cols=["text"],
            id_col="doc_id",
        )
        + ") t"
    )
    out["corpus_mix"] = stratified_sample_oracle_sql(
        table="documents",
        id_col="doc_id",
        strata_col="source",
        fractions=_MIX_FRACTIONS,
        default=0.1,
        seed=11,
    )
    from sdvg_spark.ops.corpus import duplicate_spans_oracle_sql
    from sdvg_spark.ops.sampling import stratified_sample_exact_oracle_sql

    out["stratified_sample"] = stratified_sample_exact_oracle_sql(
        table="documents",
        id_col="doc_id",
        strata_col="source",
        n_per_stratum=7,
        seed=11,
    )
    out["duplicate_spans"] = duplicate_spans_oracle_sql(
        span_tokens=12, min_docs=2
    )
    from sdvg_spark.ops.corpus import remove_duplicate_spans_oracle_sql

    out["remove_duplicate_spans"] = remove_duplicate_spans_oracle_sql(
        span_tokens=12, min_docs=2
    )
    from sdvg_spark.ops.corpus import unigram_nll_oracle_sql

    out["unigram_nll"] = unigram_nll_oracle_sql(top_n=500)

    from sdvg_spark.ops.corpus import bigram_nll_oracle_sql

    out["bigram_nll"] = bigram_nll_oracle_sql(top_n=2000, ctx_top_n=2000)

    out["repetition_features"] = T.repetition_features_oracle_sql()

    from sdvg_spark.ops.analytics import (
        cohort_retention_oracle_sql,
        funnel_oracle_sql,
    )

    out["events_funnel"] = funnel_oracle_sql(
        steps=["view", "click", "purchase"], within_seconds=7 * 86400
    )
    out["events_retention"] = cohort_retention_oracle_sql()

    from sdvg_spark.ops.corpus import collocations_oracle_sql

    out["collocations"] = collocations_oracle_sql(min_count=3, top_n=50)

    from sdvg_spark.ops.corpus import token_divergence_oracle_sql

    out["token_divergence"] = token_divergence_oracle_sql(
        where_a="doc_id % 2 = 0", where_b="doc_id % 2 = 1", top_n=500
    )

    from sdvg_spark.ops.sampling import quantile_band_filter_oracle_sql

    out["quality_band"] = quantile_band_filter_oracle_sql(
        table="events", col="value", lower_q=0.05, upper_q=0.95,
        select="event_id, value",
    )

    from sdvg_spark.ops.corpus import zipf_fit_oracle_sql

    out["zipf_fit"] = zipf_fit_oracle_sql(top_n=500)

    from sdvg_spark.ops.sampling import (
        source_cap_oracle_sql,
        token_budget_sample_oracle_sql,
    )

    from sdvg_spark.ops.dedup import sql_incremental_minhash_dedup

    out["dedup_incremental_minhash"] = sql_incremental_minhash_dedup(
        batch_filter="doc_id % 7 = 0", threshold=0.8
    )

    from sdvg_spark.ops.corpus import dsir_logweights_oracle_sql
    from sdvg_spark.ops.text import bm25_topk_oracle_sql

    out["bm25_retrieval"] = bm25_topk_oracle_sql(BM25_QUERIES, topk=10)
    out["dsir_weights"] = dsir_logweights_oracle_sql(target_filter="lang = 'en'")

    from sdvg_spark.ops.web import sql_canonicalize_url, sql_url_parts

    _canon = sql_canonicalize_url("url")
    _dom = sql_url_parts("url")["domain"]
    out["url_canonicalize"] = f"""
WITH u AS (SELECT doc_id, {URL_FIXTURE_SQL} AS url FROM documents)
SELECT doc_id, url, {_canon} AS canon_url, {_dom} AS domain FROM u"""
    out["url_dedup"] = f"""
WITH u AS (SELECT doc_id, {URL_FIXTURE_SQL} AS url FROM documents)
SELECT {_canon} AS canon_url, min(doc_id) AS keeper_id,
       count(*) AS n_urls
FROM u GROUP BY canon_url"""

    _ls = T.sql_language_scores("text")
    out["language_confidence"] = f"""
SELECT doc_id, {_ls['lang_pred']} AS lang_pred,
       {_ls['lang_score']} AS lang_score,
       {_ls['lang_margin']} AS lang_margin
FROM documents"""

    # stream_funnel replays in-order micro-batches, whose final per-user
    # rows equal the batch funnel — same oracle as events_funnel
    out["stream_funnel"] = funnel_oracle_sql(
        steps=["view", "click", "purchase"], within_seconds=7 * 86400
    )

    from sdvg_spark.ops.dedup import paragraph_dedup_oracle_sql

    out["paragraph_dedup"] = paragraph_dedup_oracle_sql(
        text_sql=PARA_FIXTURE_SQL
    )

    from sdvg_spark.ops.web import sql_html_to_text

    _ht = sql_html_to_text("html")
    out["html_extract"] = f"""
WITH h AS (SELECT doc_id, {HTML_FIXTURE_SQL} AS html FROM documents)
SELECT doc_id, {_ht} AS clean_text, length({_ht})::BIGINT AS n_chars_clean
FROM h"""

    out["events_interval_join"] = """
WITH v AS (SELECT user_id, event_id AS v_id, ts AS v_start,
             ts + (event_id % 5 + 1) * INTERVAL 1 HOUR AS v_end
           FROM events WHERE event_type = 'view'),
e AS (SELECT user_id, event_id AS e_id, ts AS e_start,
             ts + (event_id % 3 + 1) * INTERVAL 1 HOUR AS e_end
      FROM events WHERE event_type = 'error')
SELECT v.user_id AS user_id, v_id, v_start, v_end, e_id, e_start, e_end
FROM v JOIN e ON v.user_id = e.user_id
             AND v_start < e_end AND e_start < v_end"""

    _qsql = "round(" + T.sql_quality_score("text") + ", 9)"
    out["token_budget_sample"] = token_budget_sample_oracle_sql(
        table="documents",
        id_col="doc_id",
        n_tokens_sql=T.sql_whitespace_token_count("text"),
        score_sql=_qsql,
        budget=15_000,
    )
    out["source_cap"] = source_cap_oracle_sql(
        table="documents",
        id_col="doc_id",
        group_col="source",
        score_sql=_qsql,
        max_rows=15,
    )

    out["events_percentiles"] = """
SELECT event_type, count(*) AS n_events,
  round(quantile_cont(value, 0.5), 9) AS p50,
  round(quantile_cont(value, 0.9), 9) AS p90,
  round(quantile_cont(value, 0.99), 9) AS p99
FROM events GROUP BY event_type"""

    out["data_split_by_source"] = hash_split_oracle_sql(
        table="documents",
        id_col="source",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7,
        id_is_string=True,
        carry=["doc_id", "source"],
    )

    out["skew_salted_agg"] = """
WITH e AS (SELECT user_id, round(value * 1000000)::BIGINT AS vu, value FROM events)
SELECT user_id,
  count(vu) AS n_events,
  (CAST(sum(vu) AS DOUBLE) / 1000000.0) AS sum_value,
  ((CAST(sum(vu) AS DOUBLE) / count(vu)) / 1000000.0) AS avg_value,
  min(value) AS min_value,
  max(value) AS max_value
FROM e GROUP BY user_id"""

    out["events_hourly"] = f"""
WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events)
SELECT user_id, date_trunc('hour', ts) AS window_start,
  count(*) AS n_events, {_SQL_VSUM} AS total_value
FROM e GROUP BY user_id, date_trunc('hour', ts)"""

    out["events_session_window"] = f"""
WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events),
g AS (SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
             OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM g)
SELECT user_id, min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  count(*) AS n_events, {_SQL_VSUM} AS session_value
FROM s GROUP BY user_id, sid"""

    from sdvg_spark.ops.multimodal import (
        audio_features_oracle_sql,
        image_features_oracle_sql,
    )

    out["media_features"] = image_features_oracle_sql(2000, width=8, height=8, channels=3)
    out["media_audio_features"] = audio_features_oracle_sql(200, duration_ms=250)

    out["user_running_value"] = """
WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events)
SELECT event_id, user_id,
  (sum(round(value * 1000000)::BIGINT) OVER w / 1000000.0) AS running_value,
  row_number() OVER w AS event_seq
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)"""

    return out
