"""Task-merged LSH kernel (similarity._lsh_taskmerge_kernel — the
lsh_topk default since round 10): value identity against an
independent numpy ground truth (including planted exact-duplicate
ties, which the 12-dp in-kernel score quantization makes
deterministic), the bounded-pool emission that replaces the batch
triple buffer (the sf100 worker-killer, SHUFFLE_r09.md), and the
cross-table pair dedup rule."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _signatures(V, w_flat, n_tables, n_planes):
    bits = (V @ w_flat.T) >= 0
    sigs = np.zeros((len(V), n_tables), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            sigs[:, t] |= bits[:, t * n_planes + p].astype(np.int64) << p
    return sigs


def _lsh_ground_truth(V, ids, q_mask, k, n_planes, n_tables, multiprobe, seed):
    """Independent re-derivation of lsh_topk's contract: per-table
    signatures, multiprobe bucket expansion, cross-table candidate
    union, 12-dp-quantized cosine, (cosine DESC, id ASC) top-k."""
    from sdvg_spark.ops.similarity import hyperplane_weights

    dims = V.shape[1]
    w_flat = hyperplane_weights(n_planes, n_tables, seed, dims).reshape(
        n_tables * n_planes, dims
    )
    sigs = _signatures(V, w_flat, n_tables, n_planes)
    flips = [0]
    if multiprobe >= 1:
        flips += [1 << b for b in range(n_planes)]
    Vn = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-300)
    out = {}
    for qi in np.flatnonzero(q_mask):
        cand = set()
        for t in range(n_tables):
            probes = {int(sigs[qi, t]) ^ fl for fl in flips}
            cand.update(np.flatnonzero(np.isin(sigs[:, t], list(probes))))
        cand = np.array(sorted(cand), dtype=np.int64)
        sims = np.round(Vn[cand] @ Vn[qi], 12)
        sel = sorted(zip(-sims, ids[cand]))[:k]
        out[int(ids[qi])] = [
            (int(cid), rank + 1) for rank, (_, cid) in enumerate(sel)
        ]
    return out


def test_lsh_topk_matches_numpy_ground_truth(spark):
    """End-to-end contract check against a from-scratch numpy
    implementation — WITH a planted exact-duplicate pair, whose tie the
    in-kernel quantization resolves identically (id ASC) no matter how
    Spark batches the corpus (the r9 Hypothesis bug class)."""
    from sdvg_spark.ops.similarity import lsh_topk

    n, dims = 150, 16
    rng = np.random.default_rng(23)
    V = rng.normal(size=(n, dims))
    V /= np.linalg.norm(V, axis=1)[:, None]
    V[-1] = V[0]  # exact duplicate direction -> true cosine ties
    ids = np.arange(n, dtype=np.int64)
    emb = spark.createDataFrame(
        [(int(i), V[j].tolist()) for j, i in enumerate(ids)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    kw = dict(k=5, n_planes=4, n_tables=6, multiprobe=1, seed=7)
    got = {}
    for r in lsh_topk(emb, q, **kw).collect():
        got.setdefault(r.q_id, []).append((r.c_id, r.rank))
    got = {qid: sorted(v, key=lambda t: t[1]) for qid, v in got.items()}
    want = _lsh_ground_truth(V, ids, ids % 25 == 0, kw["k"], kw["n_planes"],
                             kw["n_tables"], kw["multiprobe"], kw["seed"])
    assert got == want and len(want) > 0


class _FakeBroadcast:
    def __init__(self, value):
        self.value = value


def _lsh_inputs(n_corpus=300, n_queries=9, dims=12, n_planes=3, n_tables=5,
                multiprobe=1, seed=5):
    from sdvg_spark.ops.similarity import hyperplane_weights

    rng = np.random.default_rng(seed)
    C = rng.normal(size=(n_corpus, dims))
    C /= np.linalg.norm(C, axis=1)[:, None]
    # duplicate a corpus direction so a pair collides in EVERY table
    C[-1] = C[0]
    c_ids = np.arange(n_corpus, dtype=np.int64) * 3 + 2
    Q = rng.normal(size=(n_queries, dims))
    q_ids = np.arange(n_queries, dtype=np.int64) * 100
    w_flat = hyperplane_weights(n_planes, n_tables, 7, dims).reshape(
        n_tables * n_planes, dims
    )
    qbits = (Q @ w_flat.T) >= 0
    qsigs = np.zeros((n_queries, n_tables), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            qsigs[:, t] |= qbits[:, t * n_planes + p].astype(np.int64) << p
    flips = [0] + [1 << b for b in range(n_planes)] if multiprobe >= 1 else [0]
    tables = []
    for t in range(n_tables):
        buckets: dict = {}
        for qi in range(n_queries):
            for fl in flips:
                buckets.setdefault(int(qsigs[qi, t]) ^ fl, []).append(qi)
        tables.append({s: np.array(v, dtype=np.int64) for s, v in buckets.items()})
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qn = Q / qn[:, None]
    return (q_ids, Qn, w_flat, n_tables, n_planes, tables), C, c_ids


def _run_kernel(factory, bc_val, C, c_ids, top, batch_size, **kw):
    import pandas as pd

    kern = factory(_FakeBroadcast(bc_val), top, **kw)
    batches = (
        pd.DataFrame({"c_id": c_ids[s : s + batch_size], "__v": list(C[s : s + batch_size])})
        for s in range(0, len(c_ids), batch_size)
    )
    frames = list(kern(batches))
    return (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame({"q_id": [], "c_id": [], "cosine": []})
    )


def test_lsh_taskmerge_kernel_bounded_and_reduce_equal():
    """Across many batches the merged kernel emits at most queries × k
    deduped rows, and they are exactly each query's top-k over the
    union of its probed buckets (numpy brute force, 12-dp cosine DESC,
    id ASC) — including pairs that collide in several tables (which
    must count ONCE, hence dedup-before-cut) and planted true ties
    (stable under the in-kernel quantization). Tiny compact_rows forces
    the threshold + compaction path."""
    from sdvg_spark.ops.similarity import _lsh_taskmerge_kernel

    bc_val, C, c_ids = _lsh_inputs()
    q_ids, Qn, w_flat, n_tables, n_planes, tables = bc_val
    top = 4
    merged = _run_kernel(
        _lsh_taskmerge_kernel, bc_val, C, c_ids, top, batch_size=37, compact_rows=16
    )
    assert len(merged) <= len(q_ids) * top
    # merged output carries no duplicate (q, c) pairs
    assert not merged.duplicated(subset=["q_id", "c_id"]).any()
    got = {}
    for qid, _, cid in sorted(zip(merged["q_id"], -merged["cosine"], merged["c_id"])):
        got.setdefault(int(qid), []).append(int(cid))

    # candidates: the rows whose bucket some table's probe map sends
    # the query to
    sigs = _signatures(C, w_flat, n_tables, n_planes)
    Cn = C / np.linalg.norm(C, axis=1)[:, None]
    want = {}
    for qi, qid in enumerate(q_ids):
        rows = np.array([
            r for r in range(len(C))
            if any(qi in tables[t].get(int(sigs[r, t]), ()) for t in range(n_tables))
        ], dtype=np.int64)
        sims = np.round(Cn[rows] @ Qn[qi], 12)
        o = np.lexsort((c_ids[rows], -sims))[:top]
        if len(o):
            want[int(qid)] = c_ids[rows][o].tolist()
    assert got == want and len(want) > 0


def test_lsh_kernels_emit_quantized_scores():
    """The quantization contract itself: every emitted cosine equals
    its 12-dp rounding — the invariant the pool cuts' associativity
    rests on."""
    from sdvg_spark.ops.similarity import _lsh_taskmerge_kernel

    bc_val, C, c_ids = _lsh_inputs()
    out = _run_kernel(
        _lsh_taskmerge_kernel, bc_val, C, c_ids, 4, batch_size=41, compact_rows=16
    )
    s = out["cosine"].to_numpy(np.float64)
    assert len(s) and np.array_equal(s, np.round(s, 12))


def test_dedup_pool_keeps_one_instance():
    from sdvg_spark.ops.similarity import _dedup_pool

    q = np.array([1, 1, 1, 2], dtype=np.int64)
    c = np.array([5, 5, 6, 5], dtype=np.int64)
    s = np.array([0.9, 0.9, 0.8, 0.7])
    qq, cc, ss = _dedup_pool(q, c, s)
    assert list(zip(qq.tolist(), cc.tolist())) == [(1, 5), (1, 6), (2, 5)]
