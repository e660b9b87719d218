"""Physical-plan assertions: the plans the engine promises at scale.

These guard the properties that matter at 100 TB — filters reaching the
parquet scan, small dimensions broadcast, no cartesian products, and
the generation pipeline staying shuffle-free — so a refactor that
silently degrades a plan fails CI, not a cluster run.
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

SF_DIR = "/root/testdata/sf0.01"


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entry_for_plans", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def entry():
    return _entry()


def test_pricing_summary_pushdown_and_partial_agg(spark, entry):
    plan = _plan(entry.queries()["pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # map-side combine: partial_sum before the exchange
    assert "partial_sum" in plan
    assert plan.count("Exchange") <= 2  # one shuffle for the final agg
    assert "CartesianProduct" not in plan


def test_top_revenue_broadcasts_dimensions(spark, entry):
    plan = _plan(entry.queries()["top_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims fit the broadcast side
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan


def test_generation_is_shuffle_free(spark):
    """The whole generator collapses to one map over range: every cell
    is a pure function of (seed, column, id), so no exchange may appear.
    Every model is one MapInArrow (each task makes its own ids, no
    per-column Python UDF), a model of closed-form columns only too:
    there is no second, native-expression form of a value."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine

    cfg = parse_config(
        {
            "random_seed": 5,
            "models": {
                "m": {
                    "rows_count": 1000,
                    "columns": [
                        {"name": "a", "type": "integer", "type_params": {"bit_width": 64}},
                        {"name": "b", "type": "float", "null_percentage": 0.1},
                        {"name": "c", "type": "string", "values": ["x", "y"]},
                        {"name": "d", "type": "datetime", "ordered": True},
                    ],
                }
            },
        }
    )
    df = Engine(cfg).model_df(spark, "m")
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Range" in plan
    # formatted mode: one "(n) Node" details header per plan node
    assert len(re.findall(r"^\(\d+\) MapInArrow\b", plan, re.M)) == 1
    assert "ArrowEvalPython" not in plan

    closed = parse_config(
        {
            "random_seed": 5,
            "models": {
                "m": {
                    "rows_count": 1000,
                    "columns": [
                        {"name": "k", "type": "integer",
                         "type_params": {"bit_width": 64, "from": 1, "to": 1000},
                         "ordered": True},
                    ],
                }
            },
        }
    )
    plan = _plan(Engine(closed).model_df(spark, "m"))
    assert "Exchange" not in plan
    assert "Range" in plan
    assert len(re.findall(r"^\(\d+\) MapInArrow\b", plan, re.M)) == 1
    assert "ArrowEvalPython" not in plan


def test_fk_generation_is_shuffle_free(spark):
    """FK columns re-evaluate the parent's pure expression on the child's
    row-ids (SURVEY.md M3) — no join, no shuffle."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine

    cfg = parse_config(
        {
            "random_seed": 5,
            "models": {
                "p": {
                    "rows_count": 100,
                    "columns": [
                        {"name": "pk", "type": "integer",
                         "type_params": {"bit_width": 64, "from": 1, "to": 100}}
                    ],
                },
                "c": {
                    "rows_count": 1000,
                    "columns": [{"name": "fk", "foreign_key": "p.pk"}],
                },
            },
        }
    )
    df = Engine(cfg).model_df(spark, "c")
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_exact_dedup_single_shuffle(spark, entry):
    plan = _plan(entry.queries()["dedup_exact"](spark, SF_DIR))
    # one hash-shuffle on content is the minimum possible for dedup
    assert plan.count("Exchange") <= 2
    assert "CartesianProduct" not in plan


def test_events_sessionize_single_shuffle(spark, entry):
    plan = _plan(entry.queries()["events_sessionize"](spark, SF_DIR))
    # window by user: one shuffle on the partition key, reused by the
    # downstream aggregation if keys align
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 3


def test_no_query_uses_cartesian_or_bnl_joins(spark, entry):
    """No implemented query may fall back to CartesianProduct; BNL is
    tolerated only where a broadcast range-join is intended (none today).
    """
    qs = entry.queries()
    offenders = []
    for name, fn in qs.items():
        try:
            plan = _plan(fn(spark, SF_DIR))
        except Exception:
            continue  # queries needing runtime state are covered elsewhere
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_ann_search_plans_are_join_free(spark, entry):
    """The task-merged lsh/ivf kernels have no bucket/probe joins and
    no candidate→vector re-attach shuffles — pin that both plans are
    join-FREE (one corpus pass + the k-sized ranking window)."""
    for name in ("ann_lsh", "ann_ivf"):
        plan = _plan(entry.queries()[name](spark, SF_DIR))
        assert "MapInPandas" in plan, name
        for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
            assert join not in plan, (name, join)


def test_minhash_auto_estimate_prunes_columns(spark):
    """The auto-tier byte estimate reads ONLY the text column length —
    the scan must not materialize other columns (column pruning reaches
    the parquet reader)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    est = docs.select(F.sum(F.length(F.col("text"))).alias("c"))
    plan = _plan(est)
    assert "ReadSchema: struct<text:string>" in plan


def test_ivf_vector_reattach_skips_widen_shuffle(spark):
    """The candidate-scoring join attaches vectors from the RAW corpus
    scan: exactly one repartition (the assignment kernel's widen) may
    touch the full vector payload — pin the exchange budget so a
    refactor can't silently re-shuffle the corpus twice."""
    from pyspark.sql import functions as F

    from sdvg_spark.ops.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    plan = _plan(ivf_topk(emb, q, k=5, n_cells=8, n_probe=2))
    assert "MapInPandas" in plan
    assert plan.count("Exchange RoundRobinPartitioning") <= 1
    assert "CartesianProduct" not in plan
    # the probe->assign join must broadcast the tiny probe side: a
    # shuffle join here would hash-partition the full corpus assignment
    # on the n_cells-cardinality `cell` key (parallelism collapses to
    # n_cells and the hot cells skew at 100x)
    assert "hashpartitioning(cell" not in plan


def test_quantized_rescore_plan_is_join_free(spark):
    """The fused kernel quantizes, shortlists, and exact-rescores in
    ONE corpus pass — pin that the plan has no join at all (the old
    shape re-scanned the corpus for the rescore join) and never
    hash-partitions the corpus on the shortlist key."""
    from pyspark.sql import functions as F

    from sdvg_spark.ops.similarity import quantized_rescore_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    plan = _plan(quantized_rescore_topk(emb, q, k=5, shortlist=2))
    assert "MapInPandas" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan, join
    assert "hashpartitioning(c_id" not in plan


def test_decontaminate_broadcasts_benchmark(spark, entry):
    """The contamination check must broadcast the benchmark gram table:
    a shuffle join on `gram` would repartition the exploded CORPUS gram
    stream (corpus-sized × ~doc_len rows) — the full-corpus shuffle the
    broadcast design avoids at 100 TB."""
    plan = _plan(entry.queries()["decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(gram" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """The persisted-index search must push the probed cell set into the
    parquet scan as a PARTITION filter (file-level pruning: unprobed
    cells are never read), and since the r7 fused redesign the plan is
    JOIN-FREE — scoring happens inside the scan's mapInPandas kernel
    (the old broadcast probe join materialized every query × cell-row
    candidate and spilled 2.5 GB at sf10)."""
    from pyspark.sql import functions as F

    from sdvg_spark.ops.similarity import (
        ivf_index_topk,
        ivf_train_centroids,
        ivf_write_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cent = ivf_train_centroids(emb, n_cells=8, n_iters=2)
    path = str(tmp_path / "ivf")
    ivf_write_index(emb, path, cent)
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    plan = _plan(ivf_index_topk(q, path, cent, k=5, n_probe=2))
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in scan  # probed cells reached the scan as partition filters
    assert "MapInPandas" in plan
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert join not in plan, join
    assert "hashpartitioning(cell" not in plan


def test_pack_sequences_corpus_window_is_bucketed(spark, entry):
    """The packing cumsum must run partitioned by bucket (one hash
    exchange on __b) with the offsets joined by broadcast — the
    corpus-sized window may never collapse to a single partition (the
    tiny bucket-sum window is the only SinglePartition exchange)."""
    plan = _plan(entry.queries()["pack_sequences"](spark, SF_DIR))
    assert "hashpartitioning(__b" in plan  # corpus window shuffles on bucket
    assert "BroadcastHashJoin" in plan
    assert plan.count("SinglePartition") <= 1  # only the n_buckets-row window
    assert "CartesianProduct" not in plan


def test_profile_is_single_aggregation_no_shuffle_joins(spark, entry):
    """Profiling is one scan + aggregate (expand for multi-distinct) —
    no joins, no cartesian, nothing quadratic."""
    plan = _plan(entry.queries()["profile_events"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Expand" in plan  # the multi-distinct aggregation


def test_chunking_and_mixing_are_map_only(spark, entry):
    """doc_chunks and corpus_mix must stay scan→codegen pipelines with
    ZERO exchanges — chunking is sequence/slice expressions, mixing a
    literal-threshold filter; a shuffle appearing in either means an
    accidental wide dependency crept in."""
    for name in ("doc_chunks", "corpus_mix"):
        plan = _plan(entry.queries()[name](spark, SF_DIR))
        tree = plan.split("\n\n")[0]
        assert "Exchange" not in tree, name


def test_quality_band_filter_pushes_bounds_to_scan(spark, entry):
    """The band predicate is two literal comparisons after the bounds
    scan — it must reach the parquet reader as pushed filters, and the
    filtered pass must stay exchange-free (map-only)."""
    plan = _plan(entry.queries()["quality_band"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(value), GreaterThanOrEqual(value" in plan
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_fold_tier_single_exchange_on_entry_query(spark, entry):
    """The entry funnel (fold tier) plans exactly ONE hash exchange —
    the user-keyed aggregation; no joins at all."""
    import re

    plan = _plan(entry.queries()["events_funnel"](spark, SF_DIR))
    # formatted mode lists each operator once as "(N) Exchange"
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(__u" in plan
    assert "Join" not in plan


def test_simhash_join_tiers(spark, entry):
    """Broadcast tier (small exploded side): BHJ + a pair dedup, never
    a sort-merge join. Shuffle-hash tier (big side, forced here by
    disabling broadcast): ShuffledHashJoin with the emit-once predicate
    fused into the join condition — no SMJ sorts (the sf10 4.6 GB spill
    source) and NO aggregate/exchange over the candidate-pair stream
    (its dropDuplicates re-spilled 2.1 GB at sf10)."""
    import re

    small = _plan(entry.queries()["dedup_simhash"](spark, SF_DIR))
    assert "BroadcastHashJoin" in small
    assert "SortMergeJoin" not in small

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = _plan(entry.queries()["dedup_simhash"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "ShuffledHashJoin" in big
    assert "SortMergeJoin" not in big
    # 2 hash exchanges (the join sides) + at most 2 widen round-robins
    # (no-ops at real scale); nothing downstream of the join
    assert len(re.findall(r"hashpartitioning\(__k", big)) == 2
    assert len(re.findall(r"\(\d+\) Exchange", big)) <= 4
    # emit-once lives in the join condition as a one-branch CASE over
    # block comparisons; no pair-keyed aggregate survives
    assert "shiftrightunsigned" in big
    assert not re.search(r"HashAggregate\(keys=\[id_a", big)


def test_span_census_joins_are_hash_not_sortmerge(spark, entry):
    """duplicate_spans / remove_duplicate_spans: every corpus-scale join
    is shuffle-hash — SMJ would sort the corpus × windows occurrence
    side (r9 probe: the join sort is avoidable even though the census
    spill is the countDistinct partial maps)."""
    for q in ("duplicate_spans", "remove_duplicate_spans"):
        plan = _plan(entry.queries()[q](spark, SF_DIR))
        assert "SortMergeJoin" not in plan, q
        assert "ShuffledHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q


def test_remove_duplicate_spans_never_shuffles_corpus_tokens(spark, entry):
    """The rewrite rebuilds trimmed text in-row: no exploded-token
    exchange, no collect_list regroup — the only aggregates left are
    the detector's census and the per-doc mask fold."""
    plan = _plan(entry.queries()["remove_duplicate_spans"](spark, SF_DIR))
    assert "collect_list" not in plan
    assert "array_except" in plan  # the in-row rebuild is in the plan


def test_pack_order_single_range_shuffle_no_smj(spark, entry):
    """training_order: ONE global range partitioning (the order itself),
    pack-level joins broadcast, nothing sort-merges or nest-loops."""
    plan = _plan(entry.queries()["pack_order"](spark, SF_DIR))
    assert plan.count("rangepartitioning") == 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_join_is_hash_and_window_group_limited(spark, entry):
    """tfidf: the df join hashes the vocab-sized side (no postings
    re-sort) and the per-doc top-k carries WindowGroupLimit so rank<=k
    prunes map-side."""
    plan = _plan(entry.queries()["tfidf_keywords"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert "WindowGroupLimit" in plan
