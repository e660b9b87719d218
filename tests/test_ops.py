"""Pipeline operators: dedup family, similarity search, text analysis."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# fixtures: a tiny corpus with known duplicate structure


BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into the woods "
    "while the hunter watches quietly from a distance near the old river bank"
)


def _docs(spark):
    rows = []
    for i in range(40):
        junk = " ".join(f"w{i}q{j}z{(i * 31 + j * 7) % 97}" for j in range(25))
        rows.append((i, f"document number {i} " + junk))
    # near-duplicate pairs: (100,101) and (102,103) differ by one word
    rows.append((100, BASE + " alpha"))
    rows.append((101, BASE + " beta"))
    rows.append((102, "completely different text about spark and arrow batches " * 3 + "x"))
    rows.append((103, "completely different text about spark and arrow batches " * 3 + "y"))
    # exact duplicates: 200/201
    rows.append((200, "identical payload for exact dedup"))
    rows.append((201, "identical payload for exact dedup"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    from sdvg_spark.ops.dedup import exact_dedup

    out = exact_dedup(_docs(spark), ["text"], "doc_id")
    ids = {r.doc_id for r in out.collect()}
    assert 200 in ids and 201 not in ids  # min-id survivor
    assert len(ids) == 45


def test_duplicate_classes(spark):
    from sdvg_spark.ops.dedup import duplicate_classes

    out = duplicate_classes(_docs(spark), ["text"], "doc_id").collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[201].class_rep == 200
    assert by_id[201].class_size == 2
    assert by_id[100].class_size == 1


@pytest.mark.parametrize("mode", ["broadcast", "join"])
def test_minhash_finds_near_dups(spark, mode):
    from sdvg_spark.ops.dedup import minhash_lsh_pairs

    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", threshold=0.7, mode=mode
        ).collect()
    }
    assert (100, 101) in pairs
    assert (102, 103) in pairs
    assert (200, 201) in pairs
    # distinct docs must not pair at 0.7
    assert not any(a < 40 and b < 40 for a, b in pairs)


def test_minhash_modes_agree(spark):
    from sdvg_spark.ops.dedup import minhash_lsh_pairs

    docs = _docs(spark)
    a = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.7, mode="broadcast").collect()
    }
    b = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.7, mode="join").collect()
    }
    assert a == b


def test_ngram_jaccard_exact(spark):
    from sdvg_spark.ops.dedup import ngram_jaccard_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", threshold=0.7
        ).collect()
    }
    assert (200, 201) in pairs
    assert pairs[(200, 201)] == 1.0
    assert (100, 101) in pairs


def test_simhash_kernel_values_match_md5_reference(spark):
    """Pin simhash_df's Arrow kernel to an independent pure-Python md5
    reference — heavy token repetition across rows exercises the
    kernel's per-distinct-token md5 memo (values must be identical
    with or without cache hits; ties at counter 0 give bit 0)."""
    import hashlib

    from sdvg_spark.ops.dedup import simhash_df

    def ref(text):
        c = [0] * 64
        for t in str(text).lower().split():
            h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
            for k in range(64):
                c[k] += 1 if (h >> k) & 1 else -1
        v = sum(1 << k for k in range(64) if c[k] > 0)
        return v - (1 << 64) if v >= (1 << 63) else v

    vocab = ["the", "quick", "Fox", "naïve", "x" * 40, "0"]
    rows = [(i, " ".join(vocab[j % len(vocab)] for j in range(i, i + 7))) for i in range(40)]
    rows += [(100, ""), (101, "   "), (102, None), (103, "solo"), (104, "the the THE")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["__id"]: r["__sim"] for r in simhash_df(df, "doc_id", "text").collect()}
    assert 102 not in got  # null text dropped, matching the expression path
    for doc_id, text in rows:
        if text is None:
            continue
        assert got[doc_id] == ref(text), doc_id


def test_simhash_near_dups(spark):
    from sdvg_spark.ops.dedup import simhash_pairs

    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(_docs(spark), "doc_id", "text", max_distance=6).collect()
    }
    assert (200, 201) in pairs  # identical -> distance 0
    assert (100, 101) in pairs


def _embeddings(spark, n=60, dims=16):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(n):
        v = rng.normal(size=dims)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # 500/501: same direction, different scale -> cosine 1.0
    v = rng.normal(size=dims)
    rows.append((500, (v / np.linalg.norm(v)).tolist()))
    rows.append((501, (2.0 * v / np.linalg.norm(v)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_dup_exact(spark):
    from sdvg_spark.ops.dedup import embedding_dup_pairs

    out = embedding_dup_pairs(
        _embeddings(spark), "vec_id", "embedding", threshold=0.95, exact=True
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (500, 501) in pairs
    for r in out:
        if (r.id_a, r.id_b) == (500, 501):
            assert r.cosine == pytest.approx(1.0, abs=1e-9)


def test_embedding_dup_lsh(spark):
    from sdvg_spark.ops.dedup import embedding_dup_pairs

    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            _embeddings(spark), "vec_id", "embedding", threshold=0.95, exact=False
        ).collect()
    }
    assert (500, 501) in pairs  # identical direction -> same LSH signature


def test_embedding_dup_lsh_oversized_bucket_fallback(spark):
    """A degenerate corpus (identical vectors all sharing one signature)
    must still return every pair via the blocked sub-join fallback —
    r6-advice regression: this used to raise ValueError at runtime."""
    from sdvg_spark.ops.dedup import embedding_dup_pairs

    n = 25
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_dup_pairs(
        df, "vec_id", "embedding", threshold=0.95, exact=False, bucket_cap=8
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    want = {(a, b) for a in range(n) for b in range(a + 1, n)}
    assert pairs == want
    # exact duplicate cosine survives the blocked path
    assert all(r.cosine == pytest.approx(1.0, abs=1e-9) for r in out)
    # and the cap on oversized-signature count still raises with the knob
    with pytest.raises(ValueError, match="bucket_cap"):
        embedding_dup_pairs(
            df,
            "vec_id",
            "embedding",
            exact=False,
            bucket_cap=2,
            max_oversized_buckets=0,
        )


def test_brute_force_topk(spark):
    from sdvg_spark.ops.similarity import brute_force_topk

    emb = _embeddings(spark)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = brute_force_topk(emb, q, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    for qid, hits in by_q.items():
        hits.sort(key=lambda r: r.rank)
        assert len(hits) == 3
        assert hits[0].c_id == qid  # self is the nearest neighbor
        assert hits[0].cosine == pytest.approx(1.0, abs=1e-9)


def test_lsh_topk_self_recall(spark):
    from sdvg_spark.ops.similarity import lsh_topk

    emb = _embeddings(spark)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = lsh_topk(emb, q, k=3, n_planes=6, multiprobe=1).collect()
    best = {}
    for r in out:
        if r.q_id not in best or r.rank < best[r.q_id].rank:
            best[r.q_id] = r
    # a query's own bucket always contains itself
    assert all(b.c_id == q_id for q_id, b in best.items())


# ---------------------------------------------------------------------------
# text analysis


def test_detect_language(spark):
    from sdvg_spark.ops import text as T

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat on the mat in the house"),
            (2, "el perro y el gato en la casa es que no por una"),
            (3, "der Hund und die Katze ist mit der Maus im Haus"),
            (4, "и вот в доме на горе не было что было как всегда"),
            (5, "xyzzy plugh qwerty"),
        ],
        "id long, text string",
    )
    got = {r.id: r.lang for r in df.select("id", T.detect_language(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "de"
    assert got[4] == "ru"
    assert got[5] == "und"


def test_token_counts_and_quality(spark):
    from sdvg_spark.ops import text as T

    df = spark.createDataFrame([(1, "Hello, world! 42"), (2, "")], "id long, text string")
    rows = {
        r.id: r
        for r in df.select(
            "id",
            T.whitespace_token_count(F.col("text")).alias("n"),
            T.regex_token_count(F.col("text")).alias("nb"),
            T.quality_score(F.col("text")).alias("q"),
            T.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert rows[1].n == 3
    assert rows[1].nb == 5  # hello , world ! 42
    assert 0.0 <= rows[1].q <= 1.0
    assert rows[2].n == 0 and rows[2].fp == 0


def test_fingerprint_deterministic_and_sensitive(spark):
    from sdvg_spark.ops import text as T

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "c b a")], "id long, text string"
    )
    fp = {r.id: r.fp for r in df.select("id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_ann_lsh_recall_vs_brute_force(spark):
    """The approximate path must find most of the true top-k. The
    synthetic corpus's true neighbors sit at cosine ≈0.3 — the hard
    LSH regime — so the test uses wide buckets (6 planes) over 16
    tables; measured recall there is ~0.99, and anything under 0.9
    means the bucketing join silently broke."""
    from pyspark.sql import functions as F

    from sdvg_spark.ops.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["c_id"])
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    approx = {
        (r["q_id"], r["c_id"])
        for r in lsh_topk(
            emb, q, k=10, n_planes=6, n_tables=16, multiprobe=1
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


# ---------------------------------------------------------------------------
# scale guards: no unbounded driver materialization reachable from ops


def test_no_bare_collect_in_ops():
    """Grep-gate: ops/ must never .collect() — every driver
    materialization goes through bounded_local_vectors (byte-capped) or
    an estimate-guarded toPandas."""
    import pathlib

    ops_dir = pathlib.Path(__file__).parent.parent / "sdvg_spark" / "ops"
    offenders = [
        p.name for p in ops_dir.glob("*.py") if ".collect(" in p.read_text()
    ]
    assert offenders == []


def test_minhash_auto_tier_is_byte_capped(spark):
    from sdvg_spark.ops.dedup import minhash_lsh_pairs

    docs = _docs(spark)
    # tiny cap -> auto must choose the distributed join tier
    small = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.7, broadcast_max_bytes=64
    )
    assert "Join" in small._jdf.queryExecution().optimizedPlan().toString()
    # ample cap -> broadcast tier (driver numpy, local relation plan)
    big = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.7, broadcast_max_bytes=1 << 30
    )
    assert "Join" not in big._jdf.queryExecution().optimizedPlan().toString()
    assert {(r.id_a, r.id_b) for r in small.collect()} == {
        (r.id_a, r.id_b) for r in big.collect()
    }


def test_embedding_exact_cap_fallback_and_error(spark):
    import warnings

    from sdvg_spark.ops.dedup import embedding_dup_pairs

    emb = _embeddings(spark)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.99, exact=True, exact_max_bytes=64
        ).collect()
        assert any("falling back to LSH" in str(x.message) for x in w)
    # the LSH fallback still finds the exact-duplicate pair
    assert (500, 501) in {(r.id_a, r.id_b) for r in out}
    with pytest.raises(ValueError, match="exact_max_bytes"):
        embedding_dup_pairs(
            emb,
            "vec_id",
            "embedding",
            exact=True,
            exact_max_bytes=64,
            on_exact_overflow="error",
        )


def test_brute_force_query_cap(spark):
    from sdvg_spark.ops.similarity import brute_force_topk, quantized_rescore_topk

    emb = _embeddings(spark)
    q = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    with pytest.raises(ValueError, match="max_query_bytes"):
        brute_force_topk(emb, q, k=3, max_query_bytes=64)
    with pytest.raises(ValueError, match="max_query_bytes"):
        quantized_rescore_topk(emb, q, k=3, max_query_bytes=64)


def test_ivf_topk_self_and_recall(spark):
    from sdvg_spark.ops.similarity import brute_force_topk, ivf_topk

    emb = _embeddings(spark, n=120, dims=16)
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r.q_id, r.rank): r.c_id for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = ivf_topk(emb, q, k=5, n_cells=8, n_probe=4).collect()
    got = {(r.q_id, r.rank): r.c_id for r in approx}
    # self-recall: a corpus point queried against the corpus is its own
    # rank-1 neighbor (its cell is always probed first)
    for (qid, rank), cid in got.items():
        if rank == 1:
            assert cid == qid
    # probing half the cells must recover most of the exact top-5
    hits = sum(1 for key, cid in got.items() if exact.get(key) == cid)
    assert hits / len(exact) >= 0.6


def test_connected_components_chain_clique_singleton(spark):
    """Chain (propagation depth > 1), clique, and singleton topologies
    all resolve to min-id representatives."""
    from sdvg_spark.ops.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # chain 0-1-2-3, clique {5,6,7}, pair (8,9); 4 is a singleton
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (5, 6), (5, 7), (6, 7), (8, 9)],
        "id_a long, id_b long",
    )
    rep = {r.doc_id: r.rep for r in connected_components(nodes, edges).collect()}
    assert rep == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 8}


def test_cc_probe_over_cap_falls_back_to_distributed_loop(spark):
    """r12 hardening: an edge list OVER local_max_edges must abandon
    the bounded probe (None — bounded driver fetch, no crash) and run
    the distributed fixpoint, with identical min-id labels."""
    from pyspark.sql import functions as F

    from sdvg_spark.ops.dedup import _local_edge_pdf, connected_components

    n = 500
    # a 500-edge chain spread over several shuffle partitions — NOT a
    # LocalRelation, so only the bounded probe could collect it
    edges = (
        spark.range(n)
        .repartition(8)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    assert _local_edge_pdf(edges, "id_a", "id_b", cap=100) is None
    nodes = spark.range(n + 1).select(F.col("id").alias("doc_id"))
    stats: dict = {}
    rep = {
        r.doc_id: r.rep
        for r in connected_components(
            nodes, edges, local_max_edges=100, stats=stats, max_iter=100
        ).collect()
    }
    assert stats["tier"] != "local" if "tier" in stats else True
    assert stats["rounds"] > 0  # the loop ran
    assert rep == {i: 0 for i in range(n + 1)}


def test_cc_local_tier_requires_int_ids(spark):
    """r12 (ADVICE): string ids must skip the numpy union-find tier
    (which casts to int64) and still resolve through the distributed
    loop — previously this path crashed on the cast."""
    from sdvg_spark.ops.dedup import connected_components

    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "doc_id string")
    edges = spark.createDataFrame([("b", "a"), ("b", "c")], "id_a string, id_b string")
    stats: dict = {}
    rep = {
        r.doc_id: r.rep
        for r in connected_components(
            nodes, edges, local_max_edges=1000, stats=stats
        ).collect()
    }
    assert stats.get("tier") != "local"
    assert rep == {"a": "a", "b": "a", "c": "a", "d": "d"}


def test_bounded_local_right_fixed_width_fast_path(spark):
    """The fixed-width single-job collect must return the same rows and
    make the same accept/reject decisions as the two-pass estimate."""
    from pyspark.sql import functions as F

    from sdvg_spark.ops.joins import _bounded_local_right

    df = spark.range(100).select(
        F.col("id").alias("user_id"),
        (F.col("id") * 10).alias("ts"),
        (F.col("id") % 7).alias("click_id"),
    )
    cols = ["user_id", "ts", "click_id"]
    pdf = _bounded_local_right(df, cols, max_rows=1000)
    assert pdf is not None and len(pdf) == 100
    assert sorted(pdf["user_id"]) == list(range(100))
    # row cap rejects
    assert _bounded_local_right(df, cols, max_rows=99) is None
    # byte cap rejects: 100 rows x (8 + 3*8) = 3200 bytes
    assert _bounded_local_right(df, cols, max_rows=1000, max_bytes=3199) is None
    assert _bounded_local_right(df, cols, max_rows=1000, max_bytes=3200) is not None
    # a string column keeps the two-pass estimate and the same decision
    s = df.withColumn("s", F.lit("xyz"))
    pdf2 = _bounded_local_right(s, cols + ["s"], max_rows=1000)
    assert pdf2 is not None and len(pdf2) == 100


def test_salted_agg_matches_plain_agg(spark):
    """Every decomposable aggregate through the salt shards must equal
    the single-stage groupBy result, independent of n_salts."""
    from sdvg_spark.ops.skew import salted_agg

    rows = [(i % 3, i % 7, float(i)) for i in range(500)]
    df = spark.createDataFrame(rows, "k int, v int, x double").repartition(11)
    want = {
        r.k: r
        for r in df.groupBy("k")
        .agg(
            F.sum("x").alias("total"),
            F.count("x").alias("n"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
            F.avg("x").alias("mean"),
            F.array_sort(F.collect_set("v")).alias("vals"),
        )
        .collect()
    }
    # both salt derivations are pure execution strategy — same answer
    for salt_by in ("partition", "row"):
        got = {
            r.k: r
            for r in salted_agg(
                df,
                ["k"],
                {
                    "total": ("sum", "x"),
                    "n": ("count", "x"),
                    "lo": ("min", "x"),
                    "hi": ("max", "x"),
                    "mean": ("avg", "x"),
                    "vals": ("collect_set", "v"),
                },
                n_salts=8,
                salt_by=salt_by,
            ).collect()
        }
        assert set(got) == set(want), salt_by
        for k in want:
            for f in ("total", "n", "lo", "hi", "vals"):
                assert got[k][f] == want[k][f], (salt_by, k, f)
            assert math.isclose(got[k]["mean"], want[k]["mean"], rel_tol=1e-12)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="salt_by"):
        salted_agg(df, ["k"], {"n": ("count", "x")}, salt_by="bogus")


def test_salted_agg_hll_sharding_is_lossless(spark):
    """DataSketches HLL is union-mergeable: the sharded estimate must be
    IDENTICAL (not merely close) to the unsharded hll estimate, and
    within the sketch's error bound of the true distinct count."""
    from sdvg_spark.ops.skew import salted_agg

    rows = [(i % 2, i % 400) for i in range(5000)]
    df = spark.createDataFrame(rows, "k int, v int")
    got = {
        r.k: r.nd
        for r in salted_agg(
            df, ["k"], {"nd": ("approx_count_distinct", "v")}, n_salts=16
        ).collect()
    }
    want = {
        r.k: r.nd
        for r in df.groupBy("k")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("nd"))
        .collect()
    }
    assert got == want
    for k, est in got.items():
        assert abs(est - 200) / 200 < 0.05


def test_salted_agg_rejects_non_decomposable(spark):
    from sdvg_spark.ops.skew import salted_agg

    df = spark.createDataFrame([(1, 2)], "k int, v int")
    with pytest.raises(ValueError, match="not decomposable"):
        salted_agg(df, ["k"], {"bad": ("count_distinct", "v")})


def test_ivf_index_roundtrip_recall(spark, tmp_path):
    """Lloyd-train -> persist partitionBy(cell) -> probe search: rank-1
    self-recall, good exact-top-k recall, and run-to-run determinism."""
    from sdvg_spark.ops.similarity import (
        brute_force_topk,
        ivf_index_topk,
        ivf_train_centroids,
        ivf_write_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = ivf_train_centroids(emb, n_cells=8, n_iters=5)
    assert cent.shape[0] == 8
    path = str(tmp_path / "ivf")
    ivf_write_index(emb, path, cent)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = ivf_index_topk(q, path, cent, k=5, n_probe=4).collect()
    by_rank = {(r.q_id, r.rank): r.c_id for r in got}
    for (qid, rank), cid in by_rank.items():
        if rank == 1:
            assert cid == qid  # own cell always probed first
    exact = {
        (r.q_id, r.rank): r.c_id for r in brute_force_topk(emb, q, k=5).collect()
    }
    hits = sum(1 for key, cid in by_rank.items() if exact.get(key) == cid)
    assert hits / len(exact) >= 0.6
    # deterministic: retrain + research gives identical results
    cent2 = ivf_train_centroids(emb, n_cells=8, n_iters=5)
    assert (cent == cent2).all()
    got2 = ivf_index_topk(q, path, cent2, k=5, n_probe=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_ivf_index_write_is_cell_clustered(spark, tmp_path):
    """The index write clusters rows by cell: a wide input must NOT
    fan out into one file per (task, cell) — at tiny scale each cell
    directory holds exactly one file — and the search answer is
    invariant to the source partition layout."""
    import glob

    from sdvg_spark.ops.similarity import (
        ivf_index_topk,
        ivf_train_centroids,
        ivf_write_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = ivf_train_centroids(emb, n_cells=8, n_iters=0)
    wide, narrow = str(tmp_path / "wide"), str(tmp_path / "narrow")
    ivf_write_index(emb.repartition(8), wide, cent)
    ivf_write_index(emb.coalesce(1), narrow, cent)
    for path in (wide, narrow):
        cells = glob.glob(path + "/cell=*")
        assert cells, path
        for cell_dir in cells:
            files = glob.glob(cell_dir + "/*.parquet")
            assert len(files) == 1, (cell_dir, files)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    a = {(r.q_id, r.rank, r.c_id)
         for r in ivf_index_topk(q, wide, cent, k=5, n_probe=4).collect()}
    b = {(r.q_id, r.rank, r.c_id)
         for r in ivf_index_topk(q, narrow, cent, k=5, n_probe=4).collect()}
    assert a == b


def test_hash_split_shares_and_partition_independence(spark):
    from sdvg_spark.ops.sampling import hash_split

    df = spark.range(0, 20000).withColumnRenamed("id", "rid")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = hash_split(df, "rid", fr, seed=3)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == set(fr)
    for name, frac in fr.items():
        assert abs(counts[name] / 20000 - frac) < 0.02, name
    # identical assignment under a different partitioning
    a = {(r.rid, r.split) for r in out.collect()}
    b = {
        (r.rid, r.split)
        for r in hash_split(df.repartition(17), "rid", fr, seed=3).collect()
    }
    assert a == b
    # growth-stable: the first 20k ids keep their split in a bigger corpus
    big = hash_split(
        spark.range(0, 40000).withColumnRenamed("id", "rid"), "rid", fr, seed=3
    )
    sub = {(r.rid, r.split) for r in big.where(F.col("rid") < 20000).collect()}
    assert sub == a


def test_stratified_sample_per_stratum_fractions(spark):
    from sdvg_spark.ops.sampling import sample_fraction, stratified_sample

    df = spark.range(0, 30000).select(
        F.col("id").alias("rid"), (F.col("id") % 3).cast("string").alias("s")
    )
    out = stratified_sample(
        df, "rid", "s", {"0": 0.5, "1": 0.1}, default=0.0, seed=9
    ).groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()
    got = {r.s: r.n for r in out}
    assert abs(got.get("0", 0) / 10000 - 0.5) < 0.03
    assert abs(got.get("1", 0) / 10000 - 0.1) < 0.03
    assert "2" not in got  # default 0.0 drops unlisted strata
    # plain fraction: subset of the full draw, deterministic
    s1 = {r.rid for r in sample_fraction(df, "rid", 0.2, seed=9).collect()}
    s2 = {r.rid for r in sample_fraction(df, "rid", 0.5, seed=9).collect()}
    assert s1 <= s2  # nested samples: same draw, wider threshold


def test_sampling_is_map_only(spark):
    """Split/sample must add no exchange: pure projection/filter over
    the scan (at 100 TB a shuffle here would move the whole corpus)."""
    from sdvg_spark.ops.sampling import hash_split, stratified_sample

    df = spark.range(0, 1000).select(
        F.col("id").alias("rid"), (F.col("id") % 2).cast("string").alias("s")
    )
    for out in (
        hash_split(df, "rid", {"a": 0.5, "b": 0.5}),
        stratified_sample(df, "rid", "s", {"0": 0.5}),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_hash_split_on_string_key_is_group_coherent(spark):
    """String-keyed split: every row of a group gets the same label
    (leakage-safe), groups spread over labels, and assignment is
    independent of partitioning."""
    from sdvg_spark.ops.sampling import hash_split

    df = spark.range(0, 6000).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("site-"), (F.col("id") % 200).cast("string")).alias("src"),
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = hash_split(df, "src", fr, seed=7)
    per_group = out.groupBy("src").agg(
        F.countDistinct("split").alias("k"), F.first("split").alias("lbl")
    ).collect()
    assert all(r.k == 1 for r in per_group)  # one label per group
    labels = {r.lbl for r in per_group}
    assert labels == set(fr)  # 200 groups hit every label
    a = {(r.rid, r.split) for r in out.collect()}
    b = {(r.rid, r.split) for r in hash_split(df.repartition(13), "src", fr, seed=7).collect()}
    assert a == b


def test_repetition_quality_metrics(spark):
    """Gopher-style repetition signals: duplicated tokens/lines raise
    the ratios; clean text scores 0."""
    from sdvg_spark.ops import text as T

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "all tokens here are unique"),
            (3, "line one\nline one\nline two"),
        ],
        "doc_id long, text string",
    )
    qf = T.quality_features(F.col("text"))
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            qf["dup_token_ratio"].alias("dt"),
            qf["dup_line_ratio"].alias("dl"),
        ).collect()
    }
    assert abs(got[1].dt - 0.75) < 1e-12  # 4 tokens, 1 distinct
    assert got[2].dt == 0.0
    assert abs(got[3].dl - (1 / 3)) < 1e-12  # 3 lines, 2 distinct
    assert got[1].dl == 0.0  # single line


def test_quantize_roundtrip_error_bound(spark):
    """|dequant - orig| <= scale/2 elementwise; all-zero vectors get
    scale 1.0 and all-zero codes; codes stay in [-127, 127]; the whole
    pipeline is map-only (no exchange)."""
    from sdvg_spark.ops.vectors import dequantize, quantize_embeddings

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    zero = spark.createDataFrame(
        [(99999, [0.0] * 64)], "vec_id long, embedding array<double>"
    ).selectExpr("vec_id", "cast(embedding as array<float>) embedding")
    corpus = emb.unionByName(zero)
    q = quantize_embeddings(corpus)
    joined = q.join(corpus, "vec_id").select(
        "vec_id", "scale", "qvec",
        F.zip_with(
            dequantize(F.col("qvec"), F.col("scale")),
            F.transform("embedding", lambda x: x.cast("double")),
            lambda a, b: F.abs(a - b),
        ).alias("err"),
    )
    rows = joined.collect()
    for r in rows:
        assert max(r.qvec) <= 127 and min(r.qvec) >= -127
        assert max(r.err) <= r.scale / 2 + 1e-12, r.vec_id
    z = next(r for r in rows if r.vec_id == 99999)
    assert z.scale == 1.0 and set(z.qvec) == {0}
    plan = quantize_embeddings(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ivf_quantized_index_smaller_same_recall(spark, tmp_path):
    """quantize=True shrinks the index files ~4x and keeps the search
    results nearly identical (SQ8 error does not reorder cosine ranks
    at this precision)."""
    import pathlib

    from sdvg_spark.ops.similarity import (
        ivf_index_topk,
        ivf_train_centroids,
        ivf_write_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cent = ivf_train_centroids(emb, n_cells=8, n_iters=3)
    raw_path, q_path = str(tmp_path / "raw"), str(tmp_path / "quant")
    ivf_write_index(emb, raw_path, cent)
    ivf_write_index(emb, q_path, cent, quantize=True)
    size = lambda p: sum(
        f.stat().st_size for f in pathlib.Path(p).rglob("*.parquet")
    )
    assert size(q_path) < size(raw_path) * 0.5  # ~4x raw, conservatively 2x
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.rank): r.c_id
             for r in ivf_index_topk(q, raw_path, cent, k=5, n_probe=4).collect()}
    approx = {(r.q_id, r.rank): r.c_id
              for r in ivf_index_topk(q, q_path, cent, k=5, n_probe=4).collect()}
    hits = sum(1 for key, cid in approx.items() if exact.get(key) == cid)
    assert hits / len(exact) >= 0.9
    # rank-1 self-recall survives quantization
    for (qid, rank), cid in approx.items():
        if rank == 1:
            assert cid == qid


def test_quantized_rescore_recall(spark):
    """Two-stage retrieval: the int8 shortlist + exact rescore recovers
    nearly all of the exact brute-force top-k, and rank-1 self-recall
    is perfect (a query's own vector survives any quantization)."""
    from sdvg_spark.ops.similarity import brute_force_topk, quantized_rescore_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.rank): r.c_id for r in brute_force_topk(emb, q, k=5).collect()}
    got = {
        (r.q_id, r.rank): r.c_id
        for r in quantized_rescore_topk(emb, q, k=5, shortlist=4).collect()
    }
    for (qid, rank), cid in got.items():
        if rank == 1:
            assert cid == qid
    hits = sum(1 for key, cid in got.items() if exact.get(key) == cid)
    assert hits / len(exact) >= 0.95


def test_word_ngrams_edges(spark):
    """Short docs (< n tokens) yield NO grams — the sequence guard must
    prevent fabricated descending-range grams; duplicates dedupe."""
    from sdvg_spark.ops.corpus import word_ngrams
    from sdvg_spark.ops.text import tokens

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, ""), (4, "x x x x")],
        "id long, text string",
    )
    got = {
        r.id: sorted(r.g)
        for r in df.select(
            "id", word_ngrams(tokens(F.col("text")), 3).alias("g")
        ).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []  # 2 tokens < n=3
    assert got[3] == []
    assert got[4] == ["x x x"]  # distinct: the repeated gram collapses


def test_corpus_vocab_counts_and_rank(spark):
    from sdvg_spark.ops.corpus import corpus_vocab

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog"), (3, "THE the")],
        "doc_id long, text string",
    )
    rows = {r.token: (r.tf, r.df, r.rank) for r in corpus_vocab(df, top_n=10).collect()}
    assert rows["the"] == (4, 3, 1)  # lowercased; tf counts occurrences
    assert rows["cat"][0] == 1 and rows["cat"][1] == 1
    # rank is the (tf DESC, token ASC) total order
    assert [t for t, v in sorted(rows.items(), key=lambda kv: kv[1][2])][0] == "the"


def test_decontaminate_flags_and_excludes_self(spark):
    """A doc sharing an 8-gram with a benchmark item is contaminated;
    the benchmark item itself (same id) is NOT flagged by its own text;
    clean docs carry zeros."""
    from sdvg_spark.ops.corpus import decontaminate

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (97, shared + " tail tokens here"),      # benchmark member
            (1, "prefix words " + shared),           # contaminated
            (2, "totally different content with many words indeed"),
        ],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") == 97).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    got = {r.doc_id: (r.n_hit_grams, r.n_bench_docs, r.contaminated)
           for r in decontaminate(docs, bench, n=8).collect()}
    assert got[1] == (1, 1, True)
    assert got[2] == (0, 0, False)
    assert got[97] == (0, 0, False)  # self-match excluded


def test_pack_sequences_matches_global_cumsum(spark):
    """The distributed prefix-sum (bucketed cumsums + offset join) must
    equal the naive single-window global cumsum for every row, across
    bucket counts that do and don't divide the id space evenly."""
    from pyspark.sql import Window

    from sdvg_spark.ops.corpus import pack_sequences

    df = spark.range(0, 777).select(
        (F.col("id") * 3 + 11).alias("doc_id"),  # sparse, shifted ids
        ((F.col("id") * 37) % 97 + 1).alias("n_tokens"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = {
        r.doc_id: (r.start // 256, r.start % 256)
        for r in df.withColumn(
            "start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        ).collect()
    }
    for n_buckets in (1, 7, 64):
        got = {
            r.doc_id: (r.pack_id, r.pack_offset)
            for r in pack_sequences(
                df, "doc_id", "n_tokens", budget=256, n_buckets=n_buckets
            ).collect()
        }
        assert got == naive, n_buckets


def test_token_budget_sample_matches_naive_global_window(spark):
    """The bucketed float-axis prefix-sum must equal the naive global
    (score DESC, id) window cumsum for every row, across bin counts,
    with out-of-range scores clamping into the edge bins."""
    from pyspark.sql import Window

    from sdvg_spark.ops.sampling import token_budget_sample

    df = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 97 + 1).cast("long").alias("n_tokens"),
        # scores in [-0.1, 1.1]: exercises the clamp on both edges,
        # with duplicates (ties broken by id)
        (((F.col("id") * 53) % 120).cast("double") / 100.0 - 0.1).alias("s"),
    )
    w = Window.orderBy(F.desc("s"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = {
        r.doc_id: (r.cum, r.cum <= 5000)
        for r in df.withColumn("cum", F.sum("n_tokens").over(w)).collect()
    }
    for n_bins in (1, 13, 256):
        got = {
            r.doc_id: (r.cum_tokens, r.selected)
            for r in token_budget_sample(
                df, "doc_id", "n_tokens", "s", budget=5000, n_bins=n_bins
            ).collect()
        }
        assert got == naive, n_bins
    # materialization modes are value-transparent; unknown mode raises
    got = {
        r.doc_id: (r.cum_tokens, r.selected)
        for r in token_budget_sample(
            df, "doc_id", "n_tokens", "s", budget=5000, materialize="none"
        ).collect()
    }
    assert got == naive
    import pytest as _pytest

    with _pytest.raises(ValueError, match="materialize"):
        token_budget_sample(df, "doc_id", "n_tokens", "s", budget=1, materialize="x")


def test_token_budget_sample_bin_skew_guard(spark):
    """Degenerate score distributions must not collapse the cumsum into
    one window partition (r6-verdict item 5): constant scores route to
    id-range sub-buckets, near-constant scores to an observed-range
    re-bin — both still exactly matching the naive global window."""
    from pyspark.sql import Window

    from sdvg_spark.ops.sampling import token_budget_sample

    w = Window.orderBy(F.desc("s"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # constant scores: every row in one bin AND one exact score
    const = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 31) % 43 + 1).cast("long").alias("n_tokens"),
        F.lit(0.5).alias("s"),
    )
    # near-constant: all scores inside one default bin, but with spread
    narrow = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 31) % 43 + 1).cast("long").alias("n_tokens"),
        (F.lit(0.5) + ((F.col("id") * 11) % 7).cast("double") / 10_000.0).alias("s"),
    )
    for df in (const, narrow):
        naive = {
            r.doc_id: (r.cum, r.cum <= 4000)
            for r in df.withColumn("cum", F.sum("n_tokens").over(w)).collect()
        }
        out = token_budget_sample(
            df, "doc_id", "n_tokens", "s", budget=4000, max_bin_rows=50
        )
        got = {r.doc_id: (r.cum_tokens, r.selected) for r in out.collect()}
        assert got == naive
        # the guard engaged: rows spread over many (bin, sub-key) cells,
        # each bounded — no single cell holds the whole corpus
        cells = (
            df.sparkSession.createDataFrame(
                [(r.doc_id,) for r in out.collect()], "doc_id long"
            )
            .count()
        )
        assert cells == 500
    # bounded per-cell rows, asserted directly on the guard's keys
    from sdvg_spark.ops import sampling as S

    d = const.select(
        F.col("doc_id").alias("__id"),
        F.col("n_tokens").alias("__n"),
        F.col("s").alias("__s"),
    )
    # reproduce the id-scheme cell assignment: 500 rows / cap 50 -> >=16
    # buckets of fixed id width, so no cell exceeds ~cap rows
    nb = min(4096, max(16, 4 * (500 // 50 + 1)))
    width = max(1, (499 + 1 + nb - 1) // nb)
    per_cell = (
        d.withColumn("__u", F.floor(F.col("__id") / F.lit(width)))
        .groupBy("__u")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert per_cell <= 50


def test_source_cap_pre_prune_is_lossless(spark):
    """The salted pre-prune must keep exactly the rows the plain
    per-group window keeps — skewed group sizes and score ties
    included — across salt counts."""
    from pyspark.sql import Window

    from sdvg_spark.ops.sampling import source_cap

    # skewed groups: g0 has 600 rows, g1 40, g2 3; many tied scores
    rows = [(i, f"g{0 if i < 600 else (1 if i < 640 else 2)}", float((i * 7) % 13))
            for i in range(643)]
    df = spark.createDataFrame(rows, "doc_id long, src string, s double")
    w = Window.partitionBy("src").orderBy(F.desc("s"), F.asc("doc_id"))
    naive = {
        (r.doc_id, r.src): r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
        if r.rn <= 25
    }
    for pre_salts in (1, 4, 32):
        got = {
            (r.doc_id, r.src): r.cap_rank
            for r in source_cap(
                df, "doc_id", "src", "s", max_rows=25, pre_salts=pre_salts
            ).collect()
        }
        assert got == naive, pre_salts


def _greedy_nostraddle(rows, budget):
    """Per-shard pure-python first-fit reference: new pack when the doc
    would push fill past budget (oversized docs pack alone)."""
    out = {}
    for shard in sorted({s for s, _, _ in rows}):
        fill, pack = None, 0
        for s, doc_id, n in sorted(r for r in rows if r[0] == shard):
            if fill is None:
                fill, pack = n, 0
                out[doc_id] = (shard, 0, 0)
            elif fill + n > budget:
                pack += 1
                out[doc_id] = (shard, pack, 0)
                fill = n
            else:
                out[doc_id] = (shard, pack, fill)
                fill += n
    return out


def test_pack_nostraddle_matches_greedy_reference(spark):
    """The searchsorted pack-jump kernel must replay the sequential
    greedy exactly, including oversized docs (own pack), zero-length
    docs (attach to current pack), and exact-fit boundaries."""
    from sdvg_spark.ops.corpus import pack_sequences_nostraddle

    # lengths hit every edge: 0s, exact budget, oversized, tiny
    lens = [5, 0, 256, 251, 1, 0, 300, 256, 900, 0, 2, 254, 256, 10]
    data = [(i * 3 + 7, lens[i % len(lens)] + (i % 11)) for i in range(200)]
    df = spark.createDataFrame(data, "doc_id long, n_tokens long")
    for n_shards in (1, 5, 64):
        got = {
            r.doc_id: (r.shard, r.pack_id, r.pack_offset)
            for r in pack_sequences_nostraddle(
                df, "doc_id", "n_tokens", budget=256, n_shards=n_shards
            ).collect()
        }
        lo = min(d for d, _ in data)
        hi = max(d for d, _ in data)
        width = max(1, (hi - lo) // n_shards + 1)
        rows = [((d - lo) // width, d, n) for d, n in data]
        assert got == _greedy_nostraddle(rows, 256), n_shards


def test_pack_nostraddle_no_doc_straddles(spark):
    """Invariant: offset + n_tokens <= budget for every doc that fits a
    pack alone or with others (oversized docs sit at offset 0)."""
    from sdvg_spark.ops.corpus import pack_sequences_nostraddle

    df = spark.createDataFrame(
        [(i, (i * 53) % 300) for i in range(500)], "doc_id long, n_tokens long"
    )
    rows = pack_sequences_nostraddle(
        df, "doc_id", "n_tokens", budget=256, n_shards=8
    ).collect()
    assert len(rows) == 500
    for r in rows:
        if r.n_tokens <= 256:
            assert r.pack_offset + r.n_tokens <= 256, r
        else:
            assert r.pack_offset == 0, r


def test_pii_redaction_categories_and_order(spark):
    """Each PII category redacts to its own placeholder; the specific
    patterns (email/IP/SSN/card) must win over the aggressive phone
    pattern that would otherwise swallow their digits; counts reflect
    what each pattern actually redacted."""
    from sdvg_spark.ops.text import pii_counts, redact_pii

    probe = (
        "mail john.doe+x@sub.example.co.uk, server 10.0.0.1, "
        "ssn 123-45-6789, card 4111 1111 1111 1111, call +1 (415) 555-0199"
    )
    df = spark.createDataFrame([(probe,), ("no pii here",)], "t string")
    c = pii_counts(F.col("t"))
    rows = df.select(
        redact_pii(F.col("t")).alias("r"), *[v.alias(k) for k, v in c.items()]
    ).collect()
    hit = next(r for r in rows if "<EMAIL>" in r.r)
    clean = next(r for r in rows if "no pii" in r.r)
    assert "<IP>" in hit.r and "<SSN>" in hit.r and "<CARD>" in hit.r and "<PHONE>" in hit.r
    assert "4111" not in hit.r and "example.co.uk" not in hit.r
    assert (hit.n_email, hit.n_ip, hit.n_ssn, hit.n_card, hit.n_phone) == (1, 1, 1, 1, 1)
    assert (clean.n_email, clean.n_phone) == (0, 0) and clean.r == "no pii here"


def test_curate_dispositions_and_packing(spark):
    """Every input doc gets exactly one disposition; keepers carry
    split + contiguous packing over the kept set only; duplicates keep
    the min-id survivor."""
    from sdvg_spark.ops.pipeline import CurationConfig, curate

    en = ("the cat and the dog sat on the mat with a hat and a bat "
          "for the good of all the people in the town that day")
    docs = spark.createDataFrame(
        [
            (1, en),                          # keeper (en, decent quality)
            (2, en),                          # exact dup of 1 -> duplicate
            (3, "zzz qqq xxx vvv kkk jjj www yyy hhh ggg fff ddd sss aaa"),  # und -> lang
            (4, en + " extra tail words here to differ a little bit"),  # near-dup of 1
        ],
        "doc_id long, text string",
    )
    cfg = CurationConfig(
        lang="en", min_quality=0.0, dedup_threshold=0.4,
        split={"train": 1.0}, split_seed=3, pack_budget=16, pack_buckets=4,
    )
    rows = {r.doc_id: r for r in curate(docs, cfg).collect()}
    assert len(rows) == 4
    assert rows[1].keep and rows[1].drop_reason is None
    assert rows[2].drop_reason == "duplicate" and not rows[2].keep
    assert rows[3].drop_reason == "lang"
    assert rows[4].drop_reason == "duplicate"  # near-dup joins 1's cluster
    # dropped docs carry no split/pack; keepers pack from offset 0
    assert rows[2].split is None and rows[2].pack_id is None
    assert rows[1].split == "train"
    assert (rows[1].pack_id, rows[1].pack_offset) == (0, 0)
    assert rows[1].redacted_fp is not None


def test_profile_table_one_row_per_column(spark):
    from sdvg_spark.ops.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (2, None, -0.25)],
        "id long, s string, v double",
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert set(rows) == {"id", "s", "v"}
    assert rows["id"].n_rows == 3 and rows["id"].n_distinct == 2
    assert rows["s"].n_null == 1 and rows["s"].min_value == "a"
    assert rows["v"].n_null == 1
    assert rows["v"].min_value == "-0.250000000"  # printf-rendered float
    assert rows["id"].dtype == "bigint"
    # the >=20M-row wrapper tier: approx ndv keeps schema + every
    # non-distinct stat identical, and HLL is exact at this cardinality
    ap = {r["column"]: r for r in profile_table(df, exact_distinct=False).collect()}
    assert set(ap) == set(rows)
    for c in rows:
        for f in ("dtype", "n_rows", "n_null", "min_value", "max_value"):
            assert ap[c][f] == rows[c][f], (c, f)
        assert ap[c].n_distinct == rows[c].n_distinct, c  # tiny-input HLL exact


def test_new_ops_empty_inputs(spark):
    """Empty corpora must yield empty (or all-zero) results, not crash:
    the guard paths (pack bounds probe, vocab TakeOrdered, decontam
    left join, profile aggregate) all have empty-input branches."""
    from sdvg_spark.ops.corpus import corpus_vocab, decontaminate, pack_sequences
    from sdvg_spark.ops.pipeline import CurationConfig, curate
    from sdvg_spark.ops.profile import profile_table

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert corpus_vocab(empty, top_n=5).count() == 0
    assert pack_sequences(
        empty.select("doc_id", F.lit(1).cast("long").alias("n_tokens"))
    ).count() == 0
    bench = spark.createDataFrame([], "bench_id long, text string")
    docs = spark.createDataFrame([(1, "some plain text")], "doc_id long, text string")
    d = decontaminate(docs, bench, n=3).collect()
    assert len(d) == 1 and d[0].contaminated is False
    assert decontaminate(empty, bench, n=3).count() == 0
    p = {r["column"] for r in profile_table(empty).collect()}
    assert p == {"doc_id", "text"}  # profiling an empty table still describes it
    cur = curate(empty, CurationConfig(dedup_threshold=None))
    assert cur.count() == 0


def test_semantic_dedup_clusters(spark):
    """Two tight clusters + one ambiguous point: duplicates are found
    within cells only, the smallest id becomes the representative, and
    the ambiguous point (equidistant -> lowest cell) stays kept."""
    from sdvg_spark.ops.dedup import semantic_dedup

    vecs = [
        (0, [1.0, 0.0]),          # centroid of cell 0
        (1, [0.0, 1.0]),          # centroid of cell 1
        (2, [0.99, 0.141]),       # near-dup of 0
        (3, [0.0, 2.0]),          # exact direction dup of 1
        (4, [0.7, 0.7]),          # equidistant -> cell 0, no dup
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           semantic_dedup(df, "vec_id", "embedding", n_cells=2, threshold=0.95).collect()}
    assert len(out) == 5  # one decision per input vector
    assert out[2].rep == 0 and not out[2].keep
    assert out[3].rep == 1 and not out[3].keep
    assert all(out[i].rep == i and out[i].keep for i in (0, 1, 4))
    assert out[4].cell == 0  # tie broke to the lowest cell


def test_semantic_dedup_matches_oracle_contract(spark):
    """Spark vs the DuckDB mirror on real embeddings — the same check
    the driver runs, kept here so a contract drift fails fast."""
    import os

    import duckdb

    from sdvg_spark.ops.dedup import semantic_dedup, semantic_dedup_oracle_sql

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("no sf0.001 testdata on this host")
    df = spark.read.parquet(path)
    got = {
        (r.vec_id, r.cell, r.rep, r.keep)
        for r in semantic_dedup(df, "vec_id", "embedding", n_cells=8, threshold=0.4).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    want = set(
        map(tuple, con.execute(
            semantic_dedup_oracle_sql(n_cells=8, threshold=0.4)).fetchall())
    )
    assert got == want


def test_tfidf_topk_integer_ranking(spark):
    from sdvg_spark.ops.text import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "")], "doc_id long, text string"
    )
    rows = {(r.doc_id, r.rank): r for r in
            tfidf_topk(docs, "doc_id", "text", top_n=2).collect()}
    # doc 1: tf wins first (a: tf=2), then rarity (b: df=1)
    assert rows[(1, 1)].token == "a" and rows[(1, 1)].tf == 2
    assert rows[(1, 2)].token == "b"
    # doc 2: equal tf -> rarer token first (c: df=1 beats a: df=2)
    assert rows[(2, 1)].token == "c"
    assert rows[(2, 2)].token == "a"
    # blank doc contributes no tokens and no rows
    assert not any(d == 3 for (d, _r) in rows)
    # score column: tf * ln(N/df), rounded; a in doc1: 2*ln(3/2)
    import math
    assert rows[(1, 1)].tfidf == pytest.approx(round(2 * math.log(3 / 2), 6))


def test_token_entropy(spark):
    from sdvg_spark.ops.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b"), (4, "")],
        "doc_id long, text string",
    ).select("doc_id", token_entropy(F.col("text")).alias("h"))
    got = {r.doc_id: r.h for r in df.collect()}
    assert got[1] == pytest.approx(0.0)            # degenerate repetition
    assert got[2] == pytest.approx(math.log(4))    # all distinct -> ln n
    assert got[3] == pytest.approx(math.log(2))    # two equal halves
    assert got[4] == 0.0                           # empty text


def test_connected_components_long_chain_many_rounds(spark):
    """A 64-node path graph forces ~diameter/2 propagation rounds —
    the case where the iterative logical plan used to double per round
    until Catalyst's plan rendering OOMed the driver (fixed by eager
    localCheckpoint lineage truncation). Completing AND labeling the
    whole chain with its minimum pins both the fix and correctness."""
    from sdvg_spark.ops.dedup import connected_components

    n = 64
    nodes = spark.range(0, n).selectExpr("id as doc_id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = connected_components(nodes, edges, max_iter=100).collect()
    assert len(out) == n
    assert all(r.rep == 0 for r in out)  # one component, min label 0


def test_chunk_documents_windows(spark):
    from sdvg_spark.ops.corpus import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=4, stride=3)
    got = {(r.doc_id, r.chunk_seq): (r.n_chunk_tokens, r.chunk_text)
           for r in out.collect()}
    assert got == {
        (1, 0): (4, "a b c d"),   # full window
        (1, 1): (4, "d e f g"),   # overlap of chunk_tokens - stride = 1
        (1, 2): (1, "g"),         # trailing short chunk (start 6 < 7)
        (2, 0): (2, "x y"),       # doc shorter than one window
    }                              # empty doc -> no chunks
    with pytest.raises(ValueError, match=">= 1"):
        chunk_documents(docs, "doc_id", "text", chunk_tokens=0, stride=3)


def test_incremental_exact_dedup(spark):
    from sdvg_spark.ops.dedup import incremental_exact_dedup

    new = spark.createDataFrame(
        [(10, "fresh"), (11, "fresh"), (12, "already known"), (13, "brand new")],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame(
        [("x",)], "content_hash string"
    ).select(F.sha2(F.concat_ws("\x1f", F.lit("already known")), 256).alias("content_hash"))
    out = incremental_exact_dedup(new, seen, ["text"], "doc_id").collect()
    got = {r.doc_id for r in out}
    assert got == {10, 13}  # 11 = batch dup of 10; 12 = already in store
    # admitted rows carry their hash so the store can be appended
    assert all(len(r.content_hash) == 64 for r in out)


def test_simhash_blocking_ladder_and_invariance(spark):
    """The block count is a pure cost knob: with subset size b-d the
    pigeonhole guarantee holds for every b >= d+1, so results must be
    IDENTICAL across n_docs regimes that select different b. Also pin
    the ladder's shape: small corpora stay at the minimum block count,
    larger ones climb to wider effective keys."""
    from math import comb

    from sdvg_spark.ops.dedup import _simhash_blocking, simhash_pairs

    assert _simhash_blocking(500, 3) == 4  # minimum b, 4 single-block keys
    big = _simhash_blocking(50_000_000, 3)
    assert big > 4 and comb(big, big - 3) <= 256
    # ladder is monotone in n (wider keys for bigger corpora)
    bs = [_simhash_blocking(n, 6) for n in (100, 100_000, 10_000_000)]
    assert bs == sorted(bs)

    base = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(
            _docs(spark), "doc_id", "text", max_distance=6, n_docs=10
        ).collect()
    }
    wide = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(
            _docs(spark), "doc_id", "text", max_distance=6, n_docs=50_000_000
        ).collect()
    }
    assert base == wide and base  # same pairs under any valid blocking


def test_bounded_local_vectors_known_dims_single_job(spark):
    """The known_dims path must return the same (ids, matrix) as the
    estimate path, and still refuse an over-cap input (row cap derived
    from the byte cap)."""
    import numpy as np

    from sdvg_spark.ops.dedup import bounded_local_vectors

    df = _embeddings(spark, n=40, dims=8)
    a = bounded_local_vectors(df, "vec_id", "embedding", 1 << 20)
    b = bounded_local_vectors(df, "vec_id", "embedding", 1 << 20, known_dims=8)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    # cap of 5 rows' worth of bytes -> known_dims path must refuse 40 rows
    tiny = 5 * (8 * 8 + 8)
    assert bounded_local_vectors(df, "vec_id", "embedding", tiny, known_dims=8) is None


def test_stratified_sample_exact_counts_and_stability(spark):
    """Exact per-stratum counts, capped by stratum size, identical
    under different partition layouts (pure f(id) draw)."""
    from sdvg_spark.ops.sampling import stratified_sample_exact

    df = spark.createDataFrame(
        [(i, "a" if i < 30 else "b") for i in range(40)], "id long, s string"
    )
    out = stratified_sample_exact(df, "id", "s", n_per_stratum=12, seed=3)
    rows = [(r.id, r.s, r.samp_rank) for r in out.collect()]
    by_s = {}
    for _, s, _ in rows:
        by_s[s] = by_s.get(s, 0) + 1
    assert by_s == {"a": 12, "b": 10}  # b has only 10 rows
    again = stratified_sample_exact(
        df.repartition(7), "id", "s", n_per_stratum=12, seed=3
    )
    assert sorted(rows) == sorted((r.id, r.s, r.samp_rank) for r in again.collect())
    import pytest

    with pytest.raises(ValueError, match="n_per_stratum"):
        stratified_sample_exact(df, "id", "s", n_per_stratum=0)


def test_duplicate_spans_flags_shared_windows_only(spark):
    """Docs sharing a >= span-length run are flagged at every window
    inside the run; unique docs never appear."""
    from sdvg_spark.ops.corpus import duplicate_spans

    shared = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [
            (1, f"intro {shared} outro one"),
            (2, f"other {shared} ending two"),
            (3, "completely unrelated text with many unique tokens here"),
        ],
        "doc_id long, text string",
    )
    out = duplicate_spans(df, "doc_id", "text", span_tokens=5, min_docs=2)
    rows = [(r.doc_id, r.span_start, r.n_docs) for r in out.collect()]
    assert {d for d, _, _ in rows} == {1, 2}
    assert (1, 2, 2) in rows and (2, 2, 2) in rows  # the shared run's window
    assert all(n == 2 for _, _, n in rows)


def test_remove_duplicate_spans_masks_non_canonical(spark):
    """The canonical (first) occurrence keeps its text; every other doc
    carrying the span loses exactly the span's tokens."""
    from sdvg_spark.ops.corpus import remove_duplicate_spans

    shared = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [
            (1, f"intro {shared} outro"),
            (2, f"other {shared} ending"),
            (3, "totally unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.trimmed_text, r.n_tokens, r.n_masked)
        for r in remove_duplicate_spans(
            df, "doc_id", "text", span_tokens=5, min_docs=2
        ).collect()
    }
    assert out[1] == (f"intro {shared} outro", 7, 0)  # canonical survives
    assert out[2][2] > 0 and "gamma" not in out[2][0]  # masked elsewhere
    assert out[2][0].startswith("other") and out[2][0].endswith("ending")
    assert out[3] == ("totally unrelated words only here", 5, 0)


def test_unigram_nll_scores_common_text_lower(spark):
    """A doc made of corpus-frequent tokens must score lower NLL than a
    doc of out-of-vocabulary noise; counts/ratios are exact."""
    from sdvg_spark.ops.corpus import unigram_nll

    rows = [(i, "the cat sat on the mat") for i in range(8)]
    rows.append((100, "zxqv wvut qqzz pplm"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_nll(df, "doc_id", "text", top_n=5).collect()}
    assert out[0].n_oov == 0 and out[100].n_oov == 4  # top-5 = the corpus bulk
    assert out[0].nll < out[100].nll and out[0].ppl < out[100].ppl
    assert out[0].n_tokens == 6 and out[100].n_tokens == 4


def test_bigram_nll_semantics_and_oracle(spark):
    """Word-ORDER sensitivity (the reason the operator exists: a
    shuffled doc must score worse than the fluent doc its unigram
    profile matches), edge docs (null / empty / 1-token → no
    transitions, nll 0, ppl 1), and value-exactness against the DuckDB
    mirror on a corpus with OOV transitions and tie-able counts."""
    import duckdb

    from sdvg_spark.ops.corpus import bigram_nll, bigram_nll_oracle_sql

    rows = [(i, "the cat sat on the mat") for i in range(8)]
    rows += [
        (100, "mat the on sat cat the"),  # same unigrams, broken order
        (101, None),
        (102, "   "),
        (103, "solo"),
        (104, "zx qv wv ut"),  # all-OOV transitions
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_nll(df, "doc_id", "text", top_n=6).collect()}
    assert got[0].n_oov == 0 and got[0].n_trans == 5
    assert got[100].nll > got[0].nll  # order broken -> worse transitions
    for d in (101, 102, 103):
        r = got[d]
        assert (r.n_trans, r.n_oov, r.nll, r.ppl) == (0, 0, 0.0, 1.0)
    assert got[104].n_oov == 3

    con = duckdb.connect()
    con.register(
        "documents",
        df.toPandas(),
    )
    want = {
        r[0]: r
        for r in con.execute(bigram_nll_oracle_sql(top_n=6)).fetchall()
    }
    for d, r in got.items():
        assert (r.n_trans, r.n_oov, r.nll, r.ppl) == want[d][1:5], (d, r, want[d])


def test_repetition_features_known_counts(spark):
    """Hand-computed Gopher fractions on a fixed token stream, plus the
    lexicographic tie rule and the [0,1] cap on degenerate repetition."""
    from sdvg_spark.ops.text import repetition_features, tokens

    df = spark.createDataFrame(
        [
            # "a b a b c": 2-grams = [a b, b a, a b, b c] -> top "a b"
            # count 2, len 3; dup(2) covers 2*3 = 6 of 9 chars
            (1, "a b a b c"),
            (2, "x x x x x x"),  # degenerate: cap at 1.0
            (3, "unique words only here"),  # no repeated grams
            (4, "ab"),  # shorter than every n: all zero
            (5, ""),  # empty: all zero
        ],
        "doc_id long, text string",
    )
    staged = df.select("doc_id", tokens(F.col("text")).alias("t"))
    rf = repetition_features(F.col("t"), F.col("t"), top_ns=(2,), dup_ns=(2,))
    out = {
        r.doc_id: (r.top, r.dup)
        for r in staged.select(
            "doc_id", rf["top2gram_frac"].alias("top"), rf["dup2gram_frac"].alias("dup")
        ).collect()
    }
    assert out[1] == (pytest.approx(6 / 9), pytest.approx(6 / 9))
    assert out[2] == (1.0, 1.0)  # 5 identical grams cover > all chars, capped
    # all grams count 1: tie -> lexicographically smallest ("only here", 9 chars)
    assert out[3] == (pytest.approx(9 / 22), 0.0)
    assert out[4] == (0.0, 0.0)
    assert out[5] == (0.0, 0.0)


def test_repetition_features_tie_is_lexicographic(spark):
    """Two grams with equal max count: covered chars come from the
    lexicographically-smallest one (matters when lengths differ)."""
    from sdvg_spark.ops.text import repetition_features, tokens

    # grams "b cc" and "cc b" both occur twice in: b cc b cc b
    df = spark.createDataFrame([(1, "b cc b cc b")], "doc_id long, text string")
    staged = df.select("doc_id", tokens(F.col("text")).alias("t"))
    rf = repetition_features(F.col("t"), F.col("t"), top_ns=(2,), dup_ns=())
    (row,) = staged.select(rf["top2gram_frac"].alias("v")).collect()
    # normalized chars = 11; "b cc" (len 4) wins the tie over "cc b"
    assert row.v == pytest.approx(2 * 4 / 11)


def test_funnel_depths_and_window(spark):
    """Ordered-step semantics: steps must advance in time, the
    conversion window is measured from funnel entry, and users missing
    step 1 are absent entirely."""
    from datetime import datetime

    from sdvg_spark.ops.analytics import funnel

    T = lambda d, h=0: datetime(2024, 1, d, h)
    rows = [
        # u1 completes in order
        (1, T(1), "view"), (1, T(2), "click"), (1, T(3), "purchase"),
        # u2: click BEFORE the first view -> depth 1
        (2, T(2), "view"), (2, T(1), "click"),
        # u3: purchase before click -> depth 2 (click ok, purchase not after click)
        (3, T(1), "view"), (3, T(3), "click"), (3, T(2), "purchase"),
        # u4: click outside the 7-day window -> depth 1
        (4, T(1), "view"), (4, T(20), "click"),
        # u5: no view at all -> not in output
        (5, T(1), "click"), (5, T(2), "purchase"),
        # u6: same-timestamp view+click counts (>= comparison)
        (6, T(5), "view"), (6, T(5), "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r.user_id: r
        for r in funnel(
            ev, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], within_seconds=7 * 86400,
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 6}
    assert out[1].depth == 3 and out[1].step_3_ts == T(3)
    assert out[2].depth == 1 and out[2].step_2_ts is None
    assert out[3].depth == 2
    assert out[4].depth == 1
    assert out[6].depth == 2 and out[6].step_2_ts == T(5)


def test_funnel_validates_args(spark):
    from sdvg_spark.ops.analytics import funnel

    ev = spark.createDataFrame([], "user_id long, ts timestamp, event_type string")
    with pytest.raises(ValueError):
        funnel(ev, "user_id", "ts", "event_type", ["view"])
    with pytest.raises(ValueError):
        funnel(ev, "user_id", "ts", "event_type", ["a", "b"], within_seconds=0)


def test_cohort_retention_matrix(spark):
    """Offset 0 equals cohort size; repeat activity within a day counts
    once; later days land on the right offset."""
    from datetime import datetime

    from sdvg_spark.ops.analytics import cohort_retention

    T = lambda d, h=0: datetime(2024, 3, d, h)
    D = lambda d: datetime(2024, 3, d).date()
    rows = [
        (1, T(1, 9)), (1, T(1, 17)), (1, T(3)),   # cohort 3/1, active d0+d2
        (2, T(1)), (2, T(2)),                      # cohort 3/1, active d0+d1
        (3, T(2)), (3, T(2, 5)),                   # cohort 3/2, active d0 only
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in cohort_retention(
            ev, "user_id", "ts", max_offset_days=90
        ).collect()
    }
    assert out == {
        (D(1), 0): 2, (D(1), 1): 1, (D(1), 2): 1,
        (D(2), 0): 1,
    }


def test_collocations_counts_and_pmi(spark):
    """Hand-checked bigram/unigram counts, min_count filtering, and the
    PMI value on a tiny corpus."""
    import math

    from sdvg_spark.ops.corpus import collocations

    df = spark.createDataFrame(
        [
            (1, "new york new york city"),
            (2, "new york is big"),
            (3, "the city is big"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.w1, r.w2): r
        for r in collocations(df, min_count=2, top_n=10).collect()
    }
    # corpus: 13 tokens, 10 bigram windows; "new york" x3, "is big" x2
    assert set(out) == {("new", "york"), ("is", "big")}
    ny = out[("new", "york")]
    assert (ny.pair_count, ny.w1_count, ny.w2_count) == (3, 3, 3)
    assert ny.pmi == pytest.approx(math.log((3 / 10) / ((3 / 13) * (3 / 13))))
    # score c_xy/(c_x*c_y): "is big" 2/(2*2)=0.5 outranks "new york" 1/3
    ib = out[("is", "big")]
    assert (ib.rank, ny.rank) == (1, 2)


def test_collocations_min_count_and_validation(spark):
    from sdvg_spark.ops.corpus import collocations

    df = spark.createDataFrame([(1, "a b c"), (2, "d e")], "doc_id long, text string")
    assert collocations(df, min_count=2, top_n=5).count() == 0
    with pytest.raises(ValueError):
        collocations(df, min_count=0)
    with pytest.raises(ValueError):
        collocations(df, top_n=0)


def test_token_divergence_identical_halves_near_zero(spark):
    """Identical slices diverge only through the OOV-mass asymmetry of
    equal corpora — which is zero here — so KL and JS are exactly 0."""
    from sdvg_spark.ops.corpus import token_divergence

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    (row,) = token_divergence(
        df.where(F.col("doc_id") == 1), df.where(F.col("doc_id") == 2)
    ).collect()
    assert (row.n_tokens_a, row.n_tokens_b, row.vocab_size) == (3, 3, 3)
    assert row.kl_ab == 0.0 and row.kl_ba == 0.0 and row.js == 0.0


def test_token_divergence_hand_computed(spark):
    """Two-token vocab, hand-computed smoothed KL in nats."""
    import math

    from sdvg_spark.ops.corpus import token_divergence

    df = spark.createDataFrame(
        [(1, "x x x y"), (2, "x y y y")], "doc_id long, text string"
    )
    (row,) = token_divergence(
        df.where(F.col("doc_id") == 1),
        df.where(F.col("doc_id") == 2),
        alpha=0.5,
    ).collect()
    # V=2, denom = 4 + 0.5*3 = 5.5 each side; token probs:
    pa = {"x": 3.5 / 5.5, "y": 1.5 / 5.5}
    pb = {"x": 1.5 / 5.5, "y": 3.5 / 5.5}
    po = 0.5 / 5.5  # OOV both sides
    kl = sum(pa[t] * math.log(pa[t] / pb[t]) for t in ("x", "y"))
    kl += po * math.log(po / po)
    assert row.kl_ab == pytest.approx(kl, abs=1e-9)
    assert row.kl_ba == pytest.approx(kl, abs=1e-9)  # symmetric by construction
    assert 0.0 < row.js < row.kl_ab
    assert row.vocab_size == 2


def test_token_divergence_validates_args(spark):
    from sdvg_spark.ops.corpus import token_divergence

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        token_divergence(df, df, top_n=0)
    with pytest.raises(ValueError):
        token_divergence(df, df, alpha=0.0)


def test_funnel_matches_oracle_sql_randomized(spark):
    """The fold agrees with funnel_oracle_sql's per-step min-aggregation
    chain, run in DuckDB over the same randomized event stream (incl. ts
    ties, unstamped events and a conversion window), and on a funnel
    with a REPEATED step type."""
    import random
    from datetime import datetime, timedelta

    import duckdb

    from sdvg_spark.ops.analytics import funnel, funnel_oracle_sql

    rng = random.Random(13)
    base = datetime(2024, 5, 1)
    rows = [
        (
            u,
            # coarse grid -> many ties; ~8% unstamped events (dropped
            # by both engines)
            None
            if rng.random() < 0.08
            else base + timedelta(hours=rng.randrange(0, 200)),
            rng.choice(["view", "click", "purchase", "other"]),
        )
        for u in range(60)
        for _ in range(rng.randrange(0, 12))
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP, event_type VARCHAR)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?)", rows)
    for steps, w in [
        (["view", "click", "purchase"], 3 * 86400),
        (["view", "click"], None),
        (["view", "view", "click"], 7 * 86400),  # duplicate step type
    ]:
        got = sorted(
            map(tuple, funnel(ev, "user_id", "ts", "event_type", steps,
                              within_seconds=w).collect())
        )
        want = sorted(
            con.execute(funnel_oracle_sql(steps=steps, within_seconds=w)).fetchall()
        )
        assert got and got == want, f"funnel != oracle for steps={steps} w={w}"


def test_funnel_fold_single_shuffle_plan(spark):
    """The funnel plan contains exactly ONE Exchange (the user-keyed
    aggregation), where the per-step chain would need K."""
    from sdvg_spark.ops.analytics import funnel

    ev = spark.createDataFrame(
        [(1, None, "view")], "user_id long, ts timestamp, event_type string"
    )
    plan = funnel(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_quantile_band_filter(spark):
    """Band edges are inclusive, NULLs drop, and degenerate inputs
    (empty / all-NULL) return zero rows instead of erroring."""
    from sdvg_spark.ops.sampling import quantile_band_filter

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)] + [(999, None)],
        "id long, v double",
    )
    # p05 of 1..100 (interpolated) = 5.95; p95 = 95.05
    kept = {r.id for r in quantile_band_filter(df, "v").collect()}
    assert kept == set(range(6, 96))
    assert 999 not in kept
    # inclusive edges: band [min, max] keeps everything non-null
    assert quantile_band_filter(df, "v", lower_q=0.0, upper_q=1.0).count() == 100
    # degenerate inputs
    empty = spark.createDataFrame([], "id long, v double")
    assert quantile_band_filter(empty, "v").count() == 0
    allnull = spark.createDataFrame([(1, None)], "id long, v double")
    assert quantile_band_filter(allnull, "v").count() == 0
    with pytest.raises(ValueError):
        quantile_band_filter(df, "v", lower_q=0.9, upper_q=0.1)


def test_cohort_retention_max_offset(spark):
    """The reporting-horizon cap trims offsets past the bound and
    leaves the in-band matrix untouched."""
    from datetime import datetime

    from sdvg_spark.ops.analytics import cohort_retention

    T = lambda d: datetime(2024, 3, d)
    ev = spark.createDataFrame(
        [(1, T(1)), (1, T(2)), (1, T(9))], "user_id long, ts timestamp"
    )
    full = {
        r.day_offset
        for r in cohort_retention(
            ev, "user_id", "ts", max_offset_days=90
        ).collect()
    }
    capped = {
        r.day_offset
        for r in cohort_retention(
            ev, "user_id", "ts", max_offset_days=7
        ).collect()
    }
    assert full == {0, 1, 8}
    assert capped == {0, 1}
    # default horizon is 90 days AND relying on it warns (the default
    # changed from unbounded — silent truncation would be a trap);
    # offsets past it need the explicit unbounded opt-in
    far = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (1, datetime(2024, 8, 1))],
        "user_id long, ts timestamp",
    )
    with pytest.warns(UserWarning, match="90-day reporting horizon"):
        far_default = cohort_retention(far, "user_id", "ts")
    assert {r.day_offset for r in far_default.collect()} == {0}
    assert {
        r.day_offset
        for r in cohort_retention(
            far, "user_id", "ts", max_offset_days=None
        ).collect()
    } == {0, 213}
    with pytest.raises(ValueError):
        cohort_retention(ev, "user_id", "ts", max_offset_days=-1)


def test_zipf_fit_exact_line_and_degenerates(spark):
    """A corpus engineered so ln(tf) is exactly linear in ln(rank)
    recovers the slope with r2 = 1; uniform and tiny corpora degrade
    to the documented 0.0 fits."""
    import math

    from sdvg_spark.ops.corpus import zipf_fit

    # tf: a=8, b=4, c=2, d=1 -> but ranks 1..4 with ln(tf) linear in
    # ln(rank) requires tf = C * rank^s; use tf = 16/rank^2 at ranks
    # 1,2,4 -> tokens with tf 16, 4, 1 and ranks 1, 2, 3 is NOT linear.
    # Simplest exact check: two ranks always fit a line perfectly.
    df = spark.createDataFrame(
        [(1, "a " * 6 + "b " * 3)], "doc_id long, text string"
    )
    (row,) = zipf_fit(df, top_n=10).collect()
    assert row.n_ranks == 2 and row.r2 == pytest.approx(1.0)
    assert row.slope == pytest.approx(math.log(3 / 6) / math.log(2 / 1))
    # uniform tf -> zero y-variance: slope 0, r2 0
    dfu = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    (ru,) = zipf_fit(dfu, top_n=10).collect()
    assert (ru.slope, ru.r2) == (0.0, 0.0) and ru.n_ranks == 3
    # single token -> n_ranks < 2 -> all zeros
    df1 = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    (r1,) = zipf_fit(df1, top_n=10).collect()
    assert (r1.n_ranks, r1.slope, r1.intercept, r1.r2) == (1, 0.0, 0.0, 0.0)
    with pytest.raises(ValueError):
        zipf_fit(df, top_n=1)


def test_incremental_minhash_dedup_decisions(spark):
    """Admission against corpus + within-batch near-dup rules, with
    'corpus' taking precedence over 'batch', unique docs admitted, and
    exact-verification rejecting band-collision false positives."""
    from sdvg_spark.ops.dedup import incremental_minhash_dedup, minhash_band_store

    base = "the quick brown fox jumps over the lazy dog " * 6
    other = "entirely different content about spark shuffles and bins " * 6
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, base + "tail-a"),          # near-dup of corpus doc 1 -> corpus
            (11, base + "tail-b"),          # near-dup of corpus AND of 10 -> corpus wins
            (12, "wholly novel text never seen before " * 8),  # admitted
            (13, "wholly novel text never seen before " * 8 + "x"),  # near-dup of 12 -> batch
        ],
        "doc_id long, text string",
    )
    store = minhash_band_store(corpus, "doc_id", "text", bands=21)
    rows = {
        r.doc_id: (r.drop_reason, r.admitted)
        for r in incremental_minhash_dedup(
            batch, corpus, store, "doc_id", "text", bands=21, threshold=0.6
        ).collect()
    }
    assert rows[10] == ("corpus", False)
    assert rows[11] == ("corpus", False)
    assert rows[12] == (None, True)
    assert rows[13] == ("batch", False)
    assert len(rows) == 4


def test_bm25_topk_ranking_and_validation(spark):
    """Matched-term scoring: a doc containing both query terms outranks
    single-term docs; zero-match docs are absent; rank keys are the
    rounded score with id tiebreak; bad params raise."""
    from sdvg_spark.ops.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join window"),
            (2, "spark spark spark table scan"),
            (3, "join order by key"),
            (4, "nothing relevant here at all"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, [(7, "spark join")], topk=10).collect()
    by_rank = {r.rank: r for r in out}
    assert [r.qid for r in out] == [7] * len(out)
    assert by_rank[1].doc_id == 1 and by_rank[1].n_matched == 2
    assert {r.doc_id for r in out} == {1, 2, 3}  # doc 4 never appears
    assert all(
        by_rank[i].score >= by_rank[i + 1].score for i in range(1, len(out))
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_topk(docs, [], topk=10)
    with _pytest.raises(ValueError):
        bm25_topk(docs, [(1, "a"), (1, "b")])
    with _pytest.raises(ValueError):
        bm25_topk(docs, [(1, "a")], topk=0)
    with _pytest.raises(ValueError):
        bm25_topk(docs, [(1, "   ")])


def test_dsir_logweights_directionality(spark):
    """Docs made of target-slice vocabulary score positive; docs made
    of raw-only vocabulary score negative; empty docs get 0/selected."""
    from sdvg_spark.ops.corpus import dsir_logweights

    tgt_text = "alpha beta gamma delta " * 5
    raw_text = "omega psi chi phi " * 5
    docs = spark.createDataFrame(
        [(1, tgt_text), (2, raw_text), (3, tgt_text), (4, "")],
        "doc_id long, text string",
    )
    target = docs.where("doc_id IN (1, 3)")
    rows = {r.doc_id: r for r in dsir_logweights(docs, target, buckets=64).collect()}
    assert rows[1].logweight > 0 and rows[1].selected
    assert rows[3].logweight > 0 and rows[3].selected
    assert rows[2].logweight < 0 and not rows[2].selected
    assert rows[4].n_tokens == 0 and rows[4].logweight == 0.0 and rows[4].selected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dsir_logweights(docs, target, buckets=1)
    with _pytest.raises(ValueError):
        dsir_logweights(docs, target, alpha=0.0)


def test_url_canonicalize_rules(spark):
    """Scheme/host case, www, default ports, trailing slashes, tracking
    params, param order, fragments and userinfo all canonicalize away;
    meaningful differences (real port, path case, param values) don't."""
    from sdvg_spark.ops.web import canonicalize_url, url_parts

    pairs = [
        # (raw, expected canonical)
        ("HTTP://WWW.Ex.COM:80/A/?b=2&a=1&utm_x=1#f", "http://ex.com/A?a=1&b=2"),
        ("https://ex.com:443/", "https://ex.com/"),
        ("https://ex.com:8443/a//", "https://ex.com:8443/a"),
        ("http://u:p@Sub.Ex.org/P?fbclid=z&z=9", "http://sub.ex.org/P?z=9"),
        ("ex.com/no/scheme?x=1", "http://ex.com/no/scheme?x=1"),
        ("http://localhost", "http://localhost/"),
        # ref is content-bearing and SURVIVES (byte-sorted); utm_* goes
        ("http://ex.com/a?ref=h&REF=x&utm_term=t", "http://ex.com/a?REF=x&ref=h"),
        # bracketed IPv6: host parses whole, port after the bracket
        ("HTTP://[2001:DB8::1]:8080/x", "http://[2001:db8::1]:8080/x"),
        ("http://[::1]:80/", "http://[::1]/"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in pairs], "url string")
    got = {
        r.url: r.c
        for r in df.select("url", canonicalize_url(F.col("url")).alias("c")).collect()
    }
    for raw, want in pairs:
        assert got[raw] == want, raw


def test_registered_domain_public_suffixes(spark):
    """co.uk-style hosts keep three labels (public-suffix subset);
    plain TLDs keep two; bare suffixes and IP literals pass through."""
    from sdvg_spark.ops.web import url_parts

    cases = [
        ("http://a.b.ex.co", "ex.co"),            # plain 2-label rule
        ("http://News.Example.CO.UK/x", "example.co.uk"),
        ("http://deep.sub.shop.com.au", "shop.com.au"),
        ("http://city.ci.ca.us", "ci.ca.us"),     # state registry suffix
        ("http://ville.gouv.fr", "ville.gouv.fr"),
        ("http://co.uk", "co.uk"),                # bare suffix: no 3rd label
        ("http://192.168.10.1/x", "192.168.10.1"),
        ("http://[2001:db8::1]/x", "[2001:db8::1]"),
        ("http://intranet", "intranet"),          # dotless host
        # 3-label public suffixes keep FOUR labels
        ("http://district.k12.ma.us", "district.k12.ma.us"),
        ("http://WWW.school.K12.CA.US/x", "school.k12.ca.us"),
        ("http://a.pref.aichi.jp", "a.pref.aichi.jp"),
        ("http://deep.sub.site.pref.aichi.jp", "site.pref.aichi.jp"),
        ("http://college.vic.edu.au", "college.vic.edu.au"),
        ("http://agency.qld.gov.au/z", "agency.qld.gov.au"),
        ("http://k12.ma.us", "k12.ma.us"),        # bare 3-label suffix
        # a state-registry host NOT under k12/cc/lib still uses the
        # 2-label state entry (ma.us) -> three labels
        ("http://city.boston.ma.us", "boston.ma.us"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {
        r.url: r.d
        for r in df.select(
            "url", url_parts(F.col("url"))["domain"].alias("d")
        ).collect()
    }
    for url, want in cases:
        assert got[url] == want, (url, got[url])


def test_registered_domain_duckdb_mirror(spark):
    """Spark registered_domain == the DuckDB mirror expression on every
    suffix class (2-label, 3-label, bare suffix, IP, dotless) — the
    contract the driver's url_canonicalize oracle row rests on."""
    import duckdb

    from sdvg_spark.ops.web import registered_domain, registered_domain_sql

    hosts = [
        "a.b.ex.co", "news.example.co.uk", "deep.sub.shop.com.au",
        "city.ci.ca.us", "district.k12.ma.us", "school.k12.ca.us",
        "a.pref.aichi.jp", "deep.sub.site.pref.aichi.jp",
        "college.vic.edu.au", "agency.qld.gov.au", "k12.ma.us",
        "boston.ma.us", "co.uk", "192.168.10.1", "[2001:db8::1]",
        "intranet", "ex.com",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r.host: (r.d, r.d_sql)
        for r in df.select(
            "host",
            registered_domain(F.col("host")).alias("d"),
            # the hot-path one-parse form must agree with the Column form
            F.expr(registered_domain_sql("host", dialect="spark")).alias("d_sql"),
        ).collect()
    }
    con = duckdb.connect()
    expr = registered_domain_sql("host", dialect="duckdb")
    for h in hosts:
        want = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS host)", [h]
        ).fetchone()[0]
        assert got[h] == (want, want), (h, got[h], want)


def test_url_dedup_keeps_min_id(spark):
    from sdvg_spark.ops.web import url_dedup

    rows = [
        (3, "http://WWW.ex.com/a/"),
        (1, "HTTP://ex.com:80/a?utm_s=1"),
        (2, "http://ex.com/b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.canon_url: (r.keeper_id, r.n_urls) for r in url_dedup(df, "doc_id", "url").collect()}
    assert got == {"http://ex.com/a": (1, 2), "http://ex.com/b": (2, 1)}


def test_language_scores_margin_and_edges(spark):
    """lang_score/lang_margin: strongly-English text has positive
    margin; a mixed en/fr text with equal hit counts has margin 0 but
    positive score; no-stopword text is ('und', 0, 0); CJK short-circuit
    reports the character ratio for both."""
    from sdvg_spark.ops.text import language_scores

    rows = [
        (1, "the and is of to the and is"),          # en-dominant
        (2, "the le"),                               # en/fr tie, 1 hit each
        (3, "zzz qqq xyzzy"),                        # no stopwords anywhere
        (4, "这是一个中文句子没有空格"),                  # CJK short-circuit
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sc = language_scores(F.col("text"))
    got = {
        r.doc_id: (r.p, float(r.s), float(r.m))
        for r in df.select(
            "doc_id",
            sc["lang_pred"].alias("p"),
            sc["lang_score"].alias("s"),
            sc["lang_margin"].alias("m"),
        ).collect()
    }
    assert got[1][0] == "en" and got[1][1] == 1.0 and got[1][2] > 0.5
    assert got[2][0] == "en" and got[2][1] == 0.5 and got[2][2] == 0.0
    assert got[3] == ("und", 0.0, 0.0)
    assert got[4][0] == "zh" and got[4][1] > 0.3 and got[4][1] == got[4][2]


def test_paragraph_dedup_first_occurrence_wins(spark):
    """Corpus-wide first occurrence (smallest doc_id, then index) of
    each paragraph survives; docs reassemble in original order; empty
    paragraphs are ignored; a doc of all-duplicate paragraphs yields ''."""
    from sdvg_spark.ops.dedup import paragraph_dedup

    rows = [
        (1, "alpha\nFOOTER\nbeta"),
        (2, "FOOTER\ngamma\n\n \ndelta"),
        (3, "FOOTER"),
        (4, "FOOTER\nalpha"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_paras, r.n_kept)
        for r in paragraph_dedup(df, "doc_id", "text").collect()
    }
    assert got[1] == ("alpha\nFOOTER\nbeta", 3, 3)   # first FOOTER + alpha
    assert got[2] == ("gamma\ndelta", 3, 2)          # n_paras counts non-empty only
    assert got[3] == ("", 1, 0)
    assert got[4] == ("", 2, 0)


def test_paragraph_dedup_sep_is_literal(spark):
    """A regex-special sep ('.') splits on the LITERAL character — the
    split is escaped to match the literal join and the oracle."""
    from sdvg_spark.ops.dedup import paragraph_dedup

    rows = [(1, "aa.bb.cc"), (2, "bb.dd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_paras, r.n_kept)
        for r in paragraph_dedup(df, "doc_id", "text", sep=".").collect()
    }
    assert got[1] == ("aa.bb.cc", 3, 3)
    assert got[2] == ("dd", 2, 1)   # bb deduped against doc 1


def test_html_to_text_rules(spark):
    """script/style bodies (incl. case variants) drop entirely; br and
    /p become newlines; tags strip; common entities decode exactly one
    level; whitespace collapses."""
    from sdvg_spark.ops.web import html_to_text

    cases = [
        ("<STYLE>b{}</STYLE><script>if(1<2){}</script>hi", "hi"),
        ("<p>a</p><p>b</p>", "a\nb"),
        ("x<br/>y<BR>z", "x\ny\nz"),
        ("&amp;lt;stay&amp;gt; &lt;go&gt;", "&lt;stay&gt; <go>"),
        ("  a   b\t c ", "a b c"),
        ("<div class='x'>d</div>", "d"),
        # numeric entities: hex (either case marker), decimal, leading 0s
        ("it&#x27;s &#X27;q&#039; fine", "it's 'q' fine"),
        ("dash &#8212; quote &#8217; &#x2019; end", "dash — quote ’ ’ end"),
        ("&#0*160;nbsp: a&#160;b&#xA0;c", "&#0*160;nbsp: a b c"),
        ("&amp;#39; stays one level", "&#39; stays one level"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = {r.h: r.t for r in df.select("h", html_to_text(F.col("h")).alias("t")).collect()}
    for h, want in cases:
        assert got[h] == want, (h, got[h])


def test_html_to_text_parsed_tier(spark):
    """The mapInPandas parser tier: arbitrary numeric codepoints and the
    long named-entity tail decode; quoted '>' inside attributes doesn't
    truncate the tag; script bodies drop; block tags break lines. On
    regex-tier-friendly markup the two tiers agree."""
    from sdvg_spark.ops.web import html_to_text, html_to_text_parsed

    rows = [
        (1, "<p>a</p><script>1<2</script><p>b &copy; &#169; &#xE9;</p>"),
        (2, '<a title="x>y">link</a> end'),
        (3, "<p>same</p><p>text &amp; more</p>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        r.doc_id: r.clean_text
        for r in html_to_text_parsed(df, "html").collect()
    }
    assert got[1] == "a\nb © © é"
    assert got[2] == "link end"   # regex tier would truncate at the quoted '>'
    regex_t = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id", html_to_text(F.col("html")).alias("t")
        ).collect()
    }
    assert got[3] == regex_t[3] == "same\ntext & more"


def test_training_order_deterministic_across_partitioning(spark):
    """The seeded order key is a pure function of (seed, id): the fully
    sorted output is byte-identical at 2 and 16 input partitions, and a
    different seed produces a different permutation."""
    from sdvg_spark.ops.ordering import training_order

    rows = [(i, f"s{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "id long, source string")
    a = training_order(df.repartition(2), "id", seed=7).collect()
    b = training_order(df.repartition(16), "id", seed=7).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    c = training_order(df, "id", seed=8).collect()
    assert [r.id for r in a] != [r.id for r in c]
    # the key column is a total order surrogate: sorting by it anywhere
    # reproduces the stream
    assert [r.id for r in a] == [r.id for r in sorted(a, key=lambda r: (r.order_key, r.id))]


def test_training_order_interleave_ratios(spark):
    """With ratios {a: 3, b: 1} and equal source sizes, every early
    prefix of the stream mixes ~3:1 and source a exhausts ~3x sooner;
    within-source order is the seeded hash order."""
    from sdvg_spark.ops.ordering import training_order

    rows = [(i, "a") for i in range(600)] + [(1000 + i, "b") for i in range(600)]
    df = spark.createDataFrame(rows, "id long, source string")
    out = training_order(
        df, "id", seed=42, source_col="source", ratios={"a": 3.0, "b": 1.0}
    ).collect()
    assert len(out) == 1200
    prefix = out[:400]
    n_a = sum(1 for r in prefix if r.source == "a")
    # expected 300 of 400 (binomial, sd ~8.7) — generous 4-sigma band
    assert 260 <= n_a <= 335, n_a
    # keys are monotone in the output and deterministic
    keys = [r.order_key for r in out]
    assert keys == sorted(keys)


def test_training_order_unknown_source_raises(spark):
    import pytest as _pytest

    from sdvg_spark.ops.ordering import training_order

    df = spark.createDataFrame([(1, "a"), (2, "zz")], "id long, source string")
    with _pytest.raises(Exception, match="source missing from ratios"):
        training_order(
            df, "id", seed=1, source_col="source", ratios={"a": 1.0}
        ).collect()
    # rule-derived weights must be positive: a 0 weight would divide by
    # zero, a negative one would invert the order — both raise in-plan
    with _pytest.raises(Exception, match="non-positive weight"):
        training_order(
            df, "id", seed=1, source_col="source",
            weight_expr="CASE WHEN source = 'a' THEN 1000000 ELSE 0 END",
        ).collect()


def test_training_order_duckdb_mirror(spark):
    """Spark blending keys == the DuckDB oracle expression, both modes."""
    import duckdb

    from sdvg_spark.ops.ordering import training_order, training_order_oracle_sql

    rows = [(i, f"s{i % 4}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, source string")
    ratios = {"s0": 1.0, "s1": 2.5, "s2": 0.5, "s3": 4.0}
    got = {
        r.id: r.order_key
        for r in training_order(
            df, "id", seed=99, source_col="source", ratios=ratios
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, source VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = training_order_oracle_sql(
        table="t", id_col="id", seed=99, source_col="source",
        ratios=ratios, select_cols="id, source",
    )
    want = {r[0]: r[2] for r in con.execute(sql).fetchall()}
    assert got == want
    # plain mode
    got_p = {
        r.id: r.order_key for r in training_order(df, "id", seed=99).collect()
    }
    want_p = {
        r[0]: r[1]
        for r in con.execute(
            training_order_oracle_sql(table="t", id_col="id", seed=99,
                                      select_cols="id")
        ).fetchall()
    }
    assert got_p == want_p


def test_tfidf_tiers_value_identical(spark, monkeypatch):
    """The explode+groupBy small tier and the in-row run-length-fold
    scale tier must produce byte-identical rows (the tier bound is a
    performance decision, never a semantic one)."""
    import sdvg_spark.ops.text as T

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "b c c"), (3, ""), (4, "a"), (5, "d d d d")],
        "doc_id long, text string",
    )
    small = sorted(map(tuple, T.tfidf_topk(docs, "doc_id", "text", top_n=2).collect()))
    monkeypatch.setattr(T, "_TFIDF_RLE_MIN_DOCS", 0)
    rle = sorted(map(tuple, T.tfidf_topk(docs, "doc_id", "text", top_n=2).collect()))
    assert small == rle


def test_training_order_weight_expr_rule(spark):
    """weight_expr: a name-rule blend must (a) match the equivalent
    enumerated ratios on enumerable sources, (b) accept sources the
    enumeration has never seen (the r9 sf100 probe failure mode:
    replica-suffixed fixture sources), (c) mirror in DuckDB."""
    import duckdb

    from sdvg_spark.ops.ordering import training_order, training_order_oracle_sql

    expr = "(1 + (CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) % 4)) * 1000000"
    rows = [(i, f"src{i % 6}") for i in range(120)]
    df = spark.createDataFrame(rows, "id long, source string")
    by_rule = {
        r.id: r.order_key
        for r in training_order(
            df, "id", seed=5, source_col="source", weight_expr=expr
        ).collect()
    }
    by_dict = {
        r.id: r.order_key
        for r in training_order(
            df, "id", seed=5, source_col="source",
            ratios={f"src{i}": 1.0 + (i % 4) for i in range(6)},
        ).collect()
    }
    assert by_rule == by_dict
    # replica-suffixed sources: rule still applies, each suffix its own count
    rows2 = [(i, "src2-r1" if i % 2 else "src2") for i in range(100)]
    df2 = spark.createDataFrame(rows2, "id long, source string")
    out2 = training_order(
        df2, "id", seed=5, source_col="source", weight_expr=expr
    ).collect()
    assert len(out2) == 100
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, source VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows2)
    sql = training_order_oracle_sql(
        table="t", id_col="id", seed=5, source_col="source",
        weight_expr=expr, select_cols="id",
    )
    want = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert {r.id: r.order_key for r in out2} == want


def test_parquet_rows_footer_metadata(spark, tmp_path):
    """__spark_entry__._parquet_rows: footer-metadata counts match the
    engine for single-file and directory layouts; missing paths report
    -1 (callers fall back to df.count())."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "entry_for_pr", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    E = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(E)
    df = spark.range(1234).selectExpr("id", "id * 2 AS v")
    df.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "t.parquet"))
    assert E._parquet_rows(str(tmp_path), "t") == 1234
    assert E._parquet_rows(str(tmp_path), "missing") == -1
