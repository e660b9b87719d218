"""Task-merged IVF kernel (similarity._ivf_taskmerge_kernel — what
ivf_topk and ivf_index_topk run): value identity against an
independent numpy ground truth, the per-task emission bound that IS
the sf100 spill fix, and exact tie semantics of the pool cut."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _embeddings(spark, n=120, dims=16):
    rng = np.random.default_rng(11)
    rows = []
    for i in range(n):
        v = rng.normal(size=dims)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ivf_ground_truth(V, ids, q_mask, k, n_cells, n_probe):
    """Independent re-derivation of ivf_topk's contract: smallest-id
    centroid sample, nearest-cell assignment (ties -> lowest cell),
    n_probe probing (stable argsort), exact cosine over probed cells,
    (cosine DESC, id ASC) top-k."""
    order = np.argsort(ids)
    cent = V[order[:n_cells]]
    cent = cent / np.maximum(np.linalg.norm(cent, axis=1)[:, None], 1e-300)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-300)
    cells = np.argmax(Vn @ cent.T, axis=1)
    out = {}
    for qi in np.flatnonzero(q_mask):
        probe = np.argsort(-(Vn[qi] @ cent.T), kind="stable")[:n_probe]
        cand = np.flatnonzero(np.isin(cells, probe))
        sims = Vn[cand] @ Vn[qi]
        sel = sorted(zip(-sims, ids[cand]))[:k]
        out[int(ids[qi])] = [
            (int(cid), rank + 1) for rank, (_, cid) in enumerate(sel)
        ]
    return out


def test_ivf_topk_matches_numpy_ground_truth(spark):
    """The merged-kernel default must reproduce the operator contract
    end-to-end — centroids, probing, scoring, ranking — against a
    from-scratch numpy implementation (not merely the old kernel)."""
    from sdvg_spark.ops.similarity import ivf_topk

    n, dims, k, n_cells, n_probe = 120, 16, 5, 8, 4
    rng = np.random.default_rng(11)
    V = rng.normal(size=(n, dims))
    V /= np.linalg.norm(V, axis=1)[:, None]
    ids = np.arange(n, dtype=np.int64)
    emb = spark.createDataFrame(
        [(int(i), V[j].tolist()) for j, i in enumerate(ids)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = {}
    for r in ivf_topk(emb, q, k=k, n_cells=n_cells, n_probe=n_probe).collect():
        got.setdefault(r.q_id, []).append((r.c_id, r.rank))
    got = {qid: sorted(v, key=lambda t: t[1]) for qid, v in got.items()}
    want = _ivf_ground_truth(V, ids, ids % 20 == 0, k, n_cells, n_probe)
    assert got == want and len(want) > 0


def test_ivf_index_topk_exact_across_arrow_batches(spark, tmp_path):
    """The persisted-index search runs the task-merged kernel over the
    pruned scan, reading each row's cell from the index. With 7-row
    Arrow batches every task pools many batches and cells; the answer
    must still be the exact per-query top-k over the probed cells —
    for the raw layout (vs the operator's numpy ground truth:
    n_iters=0 centroids are the smallest-id rows) and for the int8
    layout (vs numpy over the read-back code × scale vectors)."""
    from sdvg_spark.ops.similarity import (
        ivf_index_topk,
        ivf_train_centroids,
        ivf_write_index,
    )

    n, dims, k, n_cells, n_probe = 120, 16, 5, 8, 3
    rng = np.random.default_rng(29)
    V = rng.normal(size=(n, dims))
    ids = np.arange(n, dtype=np.int64)
    emb = spark.createDataFrame(
        [(int(i), V[j].tolist()) for j, i in enumerate(ids)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def search(path, cent):
        got = {}
        for r in ivf_index_topk(q, path, cent, k=k, n_probe=n_probe).collect():
            got.setdefault(r.q_id, []).append((r.c_id, r.rank))
        return {qid: sorted(v, key=lambda t: t[1]) for qid, v in got.items()}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        cent = ivf_train_centroids(emb, n_cells=n_cells, n_iters=0)
        raw, quant = str(tmp_path / "raw"), str(tmp_path / "quant")
        ivf_write_index(emb, raw, cent)
        ivf_write_index(emb, quant, cent, quantize=True)
        got_raw, got_quant = search(raw, cent), search(quant, cent)
    finally:
        spark.conf.set(key, old)

    want = _ivf_ground_truth(V, ids, ids % 10 == 0, k, n_cells, n_probe)
    assert got_raw == want and len(want) > 0

    rows = spark.read.parquet(quant).select("c_id", "cell", "qvec", "scale").collect()
    c_ids = np.array([r.c_id for r in rows], dtype=np.int64)
    cells = np.array([r.cell for r in rows])
    M = np.array([r.qvec for r in rows], dtype=np.float64)
    M *= np.array([r.scale for r in rows], dtype=np.float64)[:, None]
    Mn = M / np.linalg.norm(M, axis=1)[:, None]
    want_quant = {}
    for qi in np.flatnonzero(ids % 10 == 0):
        qn = V[qi] / np.linalg.norm(V[qi])
        probe = np.argsort(-(qn @ cent.T), kind="stable")[:n_probe]
        cand = np.flatnonzero(np.isin(cells, probe))
        sims = Mn[cand] @ qn
        o = np.lexsort((c_ids[cand], -sims))[:k]
        want_quant[int(ids[qi])] = [
            (int(cid), rank + 1) for rank, cid in enumerate(c_ids[cand][o])
        ]
    assert got_quant == want_quant


class _FakeBroadcast:
    def __init__(self, value):
        self.value = value


def _kernel_inputs(n_corpus=200, n_queries=7, dims=8, n_cells=4, n_probe=3, seed=3):
    rng = np.random.default_rng(seed)
    C = rng.normal(size=(n_corpus, dims))
    C /= np.linalg.norm(C, axis=1)[:, None]
    c_ids = np.arange(n_corpus, dtype=np.int64) * 10 + 1
    cent = C[:n_cells].copy()
    Qn = rng.normal(size=(n_queries, dims))
    Qn /= np.linalg.norm(Qn, axis=1)[:, None]
    q_ids = np.arange(n_queries, dtype=np.int64) * 1000
    order = np.argsort(-(Qn @ cent.T), axis=1, kind="stable")[:, :n_probe]
    probing = [np.flatnonzero((order == c).any(axis=1)) for c in range(n_cells)]
    return (q_ids, Qn, cent, probing), C, c_ids


def _run_kernel(kernel_factory, bc_val, C, c_ids, top_n, batch_size, **kw):
    import pandas as pd

    kern = kernel_factory(_FakeBroadcast(bc_val), top_n, **kw)
    batches = (
        pd.DataFrame(
            {
                "c_id": c_ids[s : s + batch_size],
                "__v": list(C[s : s + batch_size]),
            }
        )
        for s in range(0, len(c_ids), batch_size)
    )
    frames = list(kern(batches))
    return (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame({"q_id": [], "c_id": [], "cosine": []})
    )


def test_taskmerge_kernel_emission_bound_and_values():
    """The whole point of the merge: across MANY batches and cells, one
    task emits at most queries × k rows — and they are exactly each
    query's top-k over the cells it probes (numpy brute force, cosine
    DESC, id ASC). compact_rows is forced tiny so the mid-stream
    compaction path runs."""
    from sdvg_spark.ops.similarity import _ivf_taskmerge_kernel

    bc_val, C, c_ids = _kernel_inputs()
    q_ids, Qn, cent, probing = bc_val
    top = 5
    merged = _run_kernel(
        _ivf_taskmerge_kernel, bc_val, C, c_ids, top, batch_size=17, compact_rows=8
    )
    assert len(merged) <= len(q_ids) * top
    got = {}
    for qid, _, cid in sorted(zip(merged["q_id"], -merged["cosine"], merged["c_id"])):
        got.setdefault(int(qid), []).append(int(cid))
    Cn = C / np.linalg.norm(C, axis=1)[:, None]
    cells = np.argmax(Cn @ cent.T, axis=1)
    want = {}
    for qi, qid in enumerate(q_ids):
        rows = np.flatnonzero([qi in probing[cell] for cell in cells])
        sims = Cn[rows] @ Qn[qi]
        o = np.lexsort((c_ids[rows], -sims))[:top]
        want[int(qid)] = c_ids[rows][o].tolist()
    assert got == want and len(want) > 0


def test_pool_topk_exact_cut_and_tiebreak():
    """Ties on score resolve by id ASC and the cut is exactly k — the
    same total order the final ranking window applies."""
    from sdvg_spark.ops.similarity import _pool_topk

    q = np.array([1, 1, 1, 1, 2, 2], dtype=np.int64)
    c = np.array([40, 30, 20, 10, 7, 9], dtype=np.int64)
    s = np.array([0.5, 0.5, 0.5, 0.9, 0.1, 0.1])
    qq, cc, ss = _pool_topk(q, c, s, 2)
    got = list(zip(qq.tolist(), cc.tolist(), ss.tolist()))
    assert got == [(1, 10, 0.9), (1, 20, 0.5), (2, 7, 0.1), (2, 9, 0.1)]


def test_taskmerge_kernel_empty_and_no_probe_cells():
    """No queries -> no emission; cells nobody probes contribute no
    candidates (the corpus rows assigned there are skipped)."""
    from sdvg_spark.ops.similarity import _ivf_taskmerge_kernel

    bc_val, C, c_ids = _kernel_inputs(n_queries=0)
    out = _run_kernel(_ivf_taskmerge_kernel, bc_val, C, c_ids, 5, batch_size=50)
    assert len(out) == 0

    bc_val, C, c_ids = _kernel_inputs(n_probe=1)
    q_ids, Qn, cent, probing = bc_val
    merged = _run_kernel(_ivf_taskmerge_kernel, bc_val, C, c_ids, 5, batch_size=50)
    # every emitted candidate's cell is probed by its query
    cells = np.argmax((C / np.linalg.norm(C, axis=1)[:, None]) @ cent.T, axis=1)
    qpos = {int(q): i for i, q in enumerate(q_ids)}
    for qid, cid in zip(merged["q_id"], merged["c_id"]):
        cell = int(cells[int((cid - 1) // 10)])
        assert qpos[int(qid)] in probing[cell]
