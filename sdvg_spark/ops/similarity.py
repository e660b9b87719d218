"""Similarity search over embedding columns (array<float>).

Every search is ONE map-only pass of one scoring kernel over the
corpus, then the shared (cosine DESC, c_id ASC) ranking window
(:func:`_ranked`) — never a global sort of the scored corpus, never a
join. The query set is collected once through a byte-capped fetch
(:func:`_local_queries`) and broadcast. The kernels that run:

* :func:`brute_force_topk` — exact; its inline kernel scores each
  Arrow batch (normalized block × queriesᵀ) and keeps the batch-local
  top-k per query.
* :func:`lsh_topk` — multi-table hyperplane LSH with multiprobe:
  :func:`_lsh_taskmerge_kernel`.
* :func:`ivf_topk` and :func:`ivf_index_topk` — IVF cells, assigned
  on the fly from the centroids or read from a persisted
  cell-partitioned index: :func:`_ivf_taskmerge_kernel`.
* :func:`quantized_rescore_topk` — int8 shortlist plus exact rescore:
  :func:`_quantized_fused_kernel`.

Scoring is an Arrow-batched numpy matmul: Spark's higher-order lambdas
evaluate interpreted per element, so a vectorized Pandas-UDF block
beats the "native" zip_with dot product by ~10×.

The LSH and IVF kernels are TASK-MERGED (:func:`_pooled_kernel`): one
running per-query top-k pool per task, emitting ≤ queries × k rows at
task end instead of per (batch, cell/bucket). At the sf100 census the
per-batch emission cost a 127 GB memory / 51 GB disk pre-rank sort
spill (ivf) and OOM-killed the Python workers (lsh); the pooled
kernels run both censuses with ZERO spill at equal wall
(SHUFFLE_r09.md). Per-query top-k under (score DESC, id ASC) is
associative across row subsets, so a pool cut never drops a global
winner. tests/test_properties.py, tests/test_lsh_merge.py and
tests/test_ivf_merge.py check each pool against a numpy brute force —
every query's exact 12-dp top-k over its probed cells or buckets, ties
by id ascending — across random censuses, batch sizes and compaction
cadences; each entry query is checked against its DuckDB mirror (the
``*_oracle_sql`` builders below).

LSH score-quantization contract: the lsh kernel rounds every cosine to
``_SCORE_DECIMALS`` right after the gemm, BEFORE any threshold or cut.
The same (query, candidate) pair is scored in different gemm block
shapes across batches and tables, so mathematically-tied scores
(duplicate vectors) differ in the last ulp and exact-float
tie-breaking becomes block-shape-dependent — Hypothesis found a pool
cut permanently evicting the (score DESC, id ASC) tie winner (r9
verdict #1). Rounding makes true ties true, the order a total order
consistent across any block decomposition, and the pool's exact cuts
associative. 12 dp sits ~3 orders above ulp noise on unit cosines and
~6 below real score gaps, so only genuine ties are affected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Peak float64 elements a block-scoring kernel may materialize at once
# (32 MB): bounds the (rows × query-chunk) score matrix regardless of
# how many queries probe a cell. Without the bound, a file-partitioned
# index cell meeting a corpus-sized query census materializes
# rows × queries × 8 bytes in ONE numpy allocation — at the sf100
# scale probe that was a 15 GB array per task and the sweep killed the
# JVM.
_SCORE_CHUNK_ELEMS = 4_000_000

# Decimal places the lsh kernel rounds cosines to before any
# threshold/cut (see the module docstring's quantization contract).
_SCORE_DECIMALS = 12

# Compact a task-merged kernel's running pool once it holds this many
# candidate rows (3 × int64/float64 arrays ≈ 24 MB at the bound):
# large enough that compaction is amortized across many emit-bounded
# blocks, small enough that a task's peak candidate footprint stays
# flat no matter how many batches × cells/buckets it scans.
_POOL_COMPACT_ROWS = 1_000_000

# Driver byte cap on the query matrix of the searches that take no
# ``max_query_bytes`` kwarg.
_QUERY_MAX_BYTES = 256_000_000

# What every search kernel emits: candidate pairs before the ranking.
_PAIRS = "q_id long, c_id long, cosine double"


def _unit_rows(M):
    """Rows scaled to unit L2 norm; all-zero rows stay zero."""
    import numpy as np

    nrm = np.linalg.norm(M, axis=1)
    nrm[nrm == 0] = 1.0
    return M / nrm[:, None]


def _local_queries(
    queries: DataFrame, query_id: str, query_vec: str, dims, max_query_bytes=None
):
    """The query set as sorted ``(ids, float64 matrix)`` on the driver,
    fetched through :func:`bounded_local_vectors`: a query set too big
    to broadcast raises here instead of OOMing the driver. ``dims``
    (the vector width, e.g. from parquet footer metadata) turns the
    byte cap into a row cap, so the fetch is one limit-guarded job
    instead of estimate job + collect job. ``max_query_bytes`` is the
    caller's kwarg when it has one; otherwise ``_QUERY_MAX_BYTES``
    applies."""
    from sdvg_spark.ops.dedup import bounded_local_vectors

    cap = _QUERY_MAX_BYTES if max_query_bytes is None else max_query_bytes
    loc = bounded_local_vectors(
        queries.select(F.col(query_id).alias("q_id"), F.col(query_vec).alias("__qv")),
        "q_id",
        "__qv",
        cap,
        known_dims=dims,
    )
    if loc is None:
        limit = (
            f"the {cap}-byte query cap" if max_query_bytes is None
            else f"max_query_bytes={cap}"
        )
        raise ValueError(f"query set exceeds {limit}: the search broadcasts the query matrix")
    return loc


def _empty_result(spark) -> DataFrame:
    return spark.createDataFrame([], "q_id long, c_id long, cosine double, rank int")


def _corpus_pass(
    corpus: DataFrame, corpus_id: str, corpus_vec: str, kernel, schema: str = _PAIRS
) -> DataFrame:
    """``kernel`` over the corpus as ``(c_id, __v)``: one map-only
    stage, widened first when the corpus is narrow."""
    from sdvg_spark.ops.dedup import widen

    return (
        widen(corpus, min_bytes=4 << 20)
        .select(F.col(corpus_id).alias("c_id"), F.col(corpus_vec).alias("__v"))
        .mapInPandas(kernel, schema)
    )


def _ranked(part: DataFrame, k: int) -> DataFrame:
    """The global per-query top-k of the kernels' candidate pairs under
    (cosine DESC, c_id ASC) — the total order every local cut keeps and
    every DuckDB mirror ranks by. The exchange moves only the kernels'
    k-bounded emissions."""
    rank = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    )
    return (
        part.withColumn("rank", rank)
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def _signatures(M, w_flat, n_tables: int, n_planes: int):
    """(rows × n_tables) int64 LSH signatures: bit p of table t is set
    when dot(vec, w[t, p]) ≥ 0 on the RAW vector — the sign rule
    :func:`lsh_topk_oracle_sql` re-derives with ``list_dot_product``."""
    import numpy as np

    bits = ((M @ w_flat.T) >= 0).reshape(len(M), n_tables, n_planes).astype(np.int64)
    return (bits << np.arange(n_planes, dtype=np.int64)).sum(axis=2)


def _probing(Qn, cent, n_probe: int):
    """Inverted probe map: ``probing[cell]`` = indices (into ``Qn``) of
    the queries whose ``n_probe`` nearest centroids include ``cell``.
    The stable argsort breaks ties to the lowest cell, as the assignment
    kernel and the oracle do."""
    import numpy as np

    order = np.argsort(-(Qn @ cent.T), axis=1, kind="stable")[:, :n_probe]
    return [np.flatnonzero((order == c).any(axis=1)) for c in range(len(cent))]


def _pool_topk(q, c, s, top: int):
    """Exact per-query top-``top`` of a candidate pool under the total
    order (score DESC, c_id ASC): one lexsort + group-rank pass, no
    per-query Python loop. Unlike ``_topk_select``'s per-block cut
    (which keeps k-th-score ties as a cheap over-approximation), this
    cuts exactly at ``top`` — safe because the ordering it cuts by is
    the same total order the final ranking window uses (for lsh, on
    quantized scores, so ties are true ties), so every globally
    ranked-≤ k row survives the pool cut."""
    import numpy as np

    order = np.lexsort((c, -s, q))
    qo = q[order]
    starts = np.flatnonzero(np.r_[True, qo[1:] != qo[:-1]])
    grp = np.repeat(starts, np.diff(np.append(starts, len(qo))))
    keep = (np.arange(len(qo)) - grp) < top
    idx = order[keep]
    return q[idx], c[idx], s[idx]


def _dedup_pool(q, c, s):
    """Drop repeated (q, c) pairs from a candidate pool (cross-table
    LSH collisions of the same pair carry the same quantized score, so
    any instance may be kept). MUST run before a top-k cut: a pair
    duplicated into two of a query's k slots would evict a genuine
    winner that the final ranking (which sees each pair once) still
    needs."""
    import numpy as np

    o = np.lexsort((c, q))
    q, c, s = q[o], c[o], s[o]
    first = np.r_[True, (q[1:] != q[:-1]) | (c[1:] != c[:-1])]
    return q[first], c[first], s[first]


def _block_topk(C_rows, block_ids, Qn, qidx, top_n: int, decimals: int | None = None):
    """Score one cell/bucket block against its probing queries and
    yield, per query chunk, the block-local top-k as ``(query index,
    id, score)`` arrays.

    Exact selection semantics (shared by every search path, and what
    the DuckDB oracles mirror): per query, keep every row whose score
    ties the k-th largest, then order by (score DESC, id ASC) and cut
    at k (:func:`_topk_select`, one vectorized pass per chunk — the old
    per-query Python loop was ~0.5 ms × queries × cells × batches: at
    the sf100 probe that extrapolated to hours). Query chunks bound the
    score matrix at ``_SCORE_CHUNK_ELEMS``. ``decimals`` rounds the
    scores straight off the gemm, before the cut."""
    import numpy as np

    top = min(int(top_n), len(block_ids))
    chunk = max(1, _SCORE_CHUNK_ELEMS // len(block_ids))
    for s in range(0, len(qidx), chunk):
        qc = qidx[s : s + chunk]
        sims = C_rows @ Qn[qc].T  # (m, |qc|)
        if decimals is not None:
            sims = np.round(sims, decimals)
        cols, rows = _topk_select(sims, block_ids, top)
        yield qc[cols], block_ids[rows], sims[rows, cols]


def _topk_select(sims, block_ids, top):
    """Vectorized per-column top-k over a (rows × queries) score
    matrix: per column, keep every row tying the ``top``-th largest
    score, order by (score DESC, id ASC), cut at ``top``. Returns
    (cols, rows) index arrays — exactly the rows the old per-query
    ``argpartition``/``lexsort`` loop selected, in one pass for all
    columns."""
    import numpy as np

    m, ccount = sims.shape
    if m > top:
        kth = -np.partition(-sims, top - 1, axis=0)[top - 1]  # (ccount,)
        cols, rows = np.nonzero((sims >= kth[None, :]).T)
    else:
        cols = np.repeat(np.arange(ccount), m)
        rows = np.tile(np.arange(m), ccount)
    order = np.lexsort((block_ids[rows], -sims[rows, cols], cols))
    cols, rows = cols[order], rows[order]
    starts = np.flatnonzero(np.r_[True, cols[1:] != cols[:-1]])
    grp = np.repeat(starts, np.diff(np.append(starts, len(cols))))
    keep = (np.arange(len(cols)) - grp) < top
    return cols[keep], rows[keep]


def hyperplane_weights(n_planes: int, n_tables: int, seed: int, dims: int):
    """Seeded hyperplane weight tensor, shape (n_tables, n_planes, dims).

    Weight (t, p, i) = splitmix64(i + (seed + 7919*t) + p*1000003)
    mapped to [-1, 1) — no stored state, identical on driver, executors,
    and in the DuckDB oracle mirror.
    """
    import numpy as np

    from sdvg_spark.core.rng import splitmix64_np

    w = np.empty((n_tables, n_planes, dims), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            ks = np.arange(dims, dtype=np.uint64) + np.uint64(
                (seed + 7919 * t + p * 1_000_003) & ((1 << 64) - 1)
            )
            w[t, p] = splitmix64_np(ks) / float(1 << 64) * 2.0 - 1.0
    return w


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    k: int = 10,
    max_query_bytes: int = 256_000_000,
    dims: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Plan shape at scale: the query matrix is broadcast (it is the
    small side by construction); scoring is a map-only stage — each
    Arrow batch computes its normalized block × queriesᵀ in numpy and
    emits only its batch-local top-k per query (every row tying the
    k-th score survives to the id tiebreak, so the local cut never
    drops a global winner), and the final reduce shuffles
    O(q·k·batches) rows, not O(q·corpus). Peak memory is O(batch),
    never O(partition vectors).

    The query matrix rides through :func:`_local_queries`
    (``max_query_bytes`` cap; ``dims`` makes the fetch one job).

    Ties broken by corpus id ascending (deterministic).
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    q_ids, Q = _local_queries(queries, query_id, query_vec, dims, max_query_bytes)
    if len(q_ids) == 0:
        return _empty_result(spark)
    bc = spark.sparkContext.broadcast((q_ids, _unit_rows(Q)))
    top_n = int(k)

    def run(batches):
        b_qids, b_Q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            sims = _unit_rows(np.array(list(pdf["__v"]), dtype=np.float64)) @ b_Q.T
            cols, rows = _topk_select(sims, c_ids, min(top_n, len(c_ids)))
            yield pd.DataFrame(
                {"q_id": b_qids[cols], "c_id": c_ids[rows], "cosine": sims[rows, cols]}
            )

    return _ranked(_corpus_pass(corpus, corpus_id, corpus_vec, run), k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    multiprobe: int = 1,
    seed: int = 7,
    dims: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    ``n_tables`` independent hash tables (each with its own ``n_planes``
    hyperplanes) bucket the corpus; a query probes its bucket in every
    table, plus all buckets within Hamming distance ``multiprobe``.
    Recall for similarity s over L tables is 1-(1-p(s))^L with
    p(s) ≈ (1-θ/π)^n_planes — single-table LSH is useless for
    mid-similarity neighbors (p(0.5) ≈ 0.008 at 12 planes), so tables
    × multiprobe are the recall knobs, and bucket width 2^-n_planes ×
    probes × tables is the scan-fraction cost knob.

    At 100 TB: ONE map-only pass over the corpus — each partition
    computes its vectors' per-table signatures (one matmul against the
    broadcast hyperplane tensor), looks up the queries probing each
    locally-present (table, signature) bucket in the broadcast inverted
    probe map (query signatures + multiprobe expansion are derived
    driver-side from the collected query matrix), scores those
    candidates, dedups per query across tables (a pair colliding in
    several tables appears once) and keeps ONE running per-query top-k
    pool for the whole task (:func:`_lsh_taskmerge_kernel`). No bucket
    join, no candidate→vector re-attach shuffle, no global dedup
    exchange; the final exchange moves only O(tasks × queries × k) rows
    into the ranking window. Cosines are quantized to
    ``_SCORE_DECIMALS`` (see the module docstring) so tie-breaking is
    block-shape-independent. The query collect is capped at
    ``_QUERY_MAX_BYTES``.
    """
    import numpy as np

    spark = corpus.sparkSession
    q_ids, Q = _local_queries(queries, query_id, query_vec, dims)
    if len(q_ids) == 0:
        return _empty_result(spark)
    if dims is None:
        dims = Q.shape[1]
    w_flat = hyperplane_weights(n_planes, n_tables, seed, dims).reshape(
        n_tables * n_planes, dims
    )
    # query signatures + multiprobe expansion, driver-side
    qsigs = _signatures(Q, w_flat, n_tables, n_planes)
    flips = [0]
    if multiprobe >= 1:
        flips += [1 << b for b in range(n_planes)]
    if multiprobe >= 2:
        flips += [
            (1 << b1) | (1 << b2)
            for b1 in range(n_planes)
            for b2 in range(b1 + 1, n_planes)
        ]
    tables: list[dict] = []
    for t in range(n_tables):
        buckets: dict = {}
        for qi in range(len(q_ids)):
            for fl in flips:
                buckets.setdefault(int(qsigs[qi, t]) ^ fl, []).append(qi)
        tables.append({s: np.array(v, dtype=np.int64) for s, v in buckets.items()})
    bc = spark.sparkContext.broadcast(
        (q_ids, _unit_rows(Q), w_flat, n_tables, n_planes, tables)
    )
    kernel = _lsh_taskmerge_kernel(bc, int(k))
    return _ranked(_corpus_pass(corpus, corpus_id, corpus_vec, kernel), k)


def _quantized_fused_kernel(bc, short_n: int):
    """mapInPandas kernel: on-the-fly int8 quantization + code-cosine
    shortlisting + exact-cosine rescore in ONE pass over the corpus.

    ``bc`` broadcasts ``(q_ids, q_codes, q_cc, Qn)``. Each partition
    buffers its raw vectors, quantizes them with
    ``quantize_embeddings``'s exact rule (scale = max|x|/127,
    half-away-from-zero rounding compared on the exact double — see
    :func:`quantized_rescore_topk`), scores codes against the query
    codes (all-integer float64 arithmetic — bit-exact across engines),
    keeps the approx top-``short_n`` per query (boundary ties survive
    to the c_id tiebreak), and attaches the EXACT cosine (the
    normalized multiply-sum formulation shared by every search kernel
    here) for just those rows. The cut applies PER ARROW BATCH — the
    shortlist window reduces across batches/partitions (finer local
    cuts stay correct), and peak memory is O(batch), never
    O(partition vectors)."""
    import numpy as np
    import pandas as pd

    def run(batches):
        q_ids, q_codes, q_cc, Qn = bc.value
        if len(q_ids) == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(list(pdf["__v"]), dtype=np.float64)
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            amax = np.abs(M).max(axis=1)
            scale = np.where(amax > 0, amax / 127.0, 1.0)
            scaled = M / scale[:, None]
            whole = np.trunc(scaled)
            frac = scaled - whole
            codes = whole + np.where(np.abs(frac) >= 0.5, np.copysign(1.0, scaled), 0.0)
            cc = (codes * codes).sum(axis=1)
            nrm = np.linalg.norm(M, axis=1)
            nrm[nrm == 0] = 1.0
            C = M / nrm[:, None]
            m = len(c_ids)
            top = min(short_n, m)
            q_arr = np.asarray(q_ids, dtype=np.int64)
            out_q, out_c, out_a, out_s = [], [], [], []
            # query-chunked: bounds the (m × chunk) approx matrix and
            # replaces the per-query argpartition loop with one
            # vectorized selection per chunk; the exact rescore touches
            # only the selected (row, query) pairs
            chunk = max(1, _SCORE_CHUNK_ELEMS // max(m, 1))
            for s in range(0, len(q_arr), chunk):
                dots = codes @ q_codes[s : s + chunk].T  # exact ints in float64
                denom = np.sqrt(np.outer(cc, q_cc[s : s + chunk]))
                with np.errstate(divide="ignore", invalid="ignore"):
                    approx = np.where(denom > 0, dots / denom, -2.0)
                cols, rows = _topk_select(approx, c_ids, top)
                out_q.append(q_arr[s + cols])
                out_c.append(c_ids[rows])
                out_a.append(approx[rows, cols])
                out_s.append(np.einsum("ij,ij->i", C[rows], Qn[s + cols]))
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "c_id": np.concatenate(out_c),
                    "approx": np.concatenate(out_a),
                    "cosine": np.concatenate(out_s),
                }
            )

    return run


class _TaskPool:
    """One task's running per-query top-k. Block winners accumulate and
    are compacted to the exact per-query top-``top_n``
    (:func:`_pool_topk`) once more than ``compact_rows`` are pending,
    so a task's candidate footprint stays flat no matter how many
    batches × cells/buckets it scans. Once a query's pool is full, its
    k-th score is a floor later candidates must reach (ties kept:
    ``>=``), so post-warmup blocks contribute little. With ``dedup``,
    repeated (q, c) pairs are dropped before every cut (lsh's
    cross-table collisions must count ONCE). The pool stores query
    INDICES into the broadcast query arrays."""

    def __init__(self, n_queries: int, top_n: int, compact_rows: int, dedup: bool):
        import numpy as np

        self.top_n, self.compact_rows, self.dedup = top_n, compact_rows, dedup
        self.thr = np.full(n_queries, -np.inf)
        self.parts: list = []
        self.pending = 0

    def add(self, qi, c, s) -> None:
        keep = s >= self.thr[qi]
        if keep.any():
            self.parts.append((qi[keep], c[keep], s[keep]))
            self.pending += int(keep.sum())
            if self.pending > self.compact_rows:
                self.compact()

    def compact(self):
        import numpy as np

        q, c, s = (np.concatenate(a) for a in zip(*self.parts))
        if self.dedup:
            q, c, s = _dedup_pool(q, c, s)
        q, c, s = _pool_topk(q, c, s, self.top_n)
        self.parts = [(q, c, s)]
        self.pending = len(q)
        starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        full = starts[np.diff(np.append(starts, len(q))) >= self.top_n]
        self.thr[q[full]] = s[full + self.top_n - 1]
        return q, c, s


def _pooled_kernel(
    bc, top_n: int, compact_rows: int, blocks, *, dedup: bool = False,
    decimals: int | None = None,
):
    """mapInPandas kernel shared by the lsh and ivf searches. ``bc``
    broadcasts a payload whose first two elements are the sorted query
    ids and their unit-normalized matrix. Per Arrow batch,
    ``blocks(payload, pdf, M, C)`` (raw and unit-normalized vectors)
    yields ``(row positions, probing query indices)`` scoring blocks;
    each block's :func:`_block_topk` winners feed ONE
    :class:`_TaskPool`, and the task emits the pool — ≤ queries ×
    top_n rows — once, at the end. Rows carry ``__v``, or the int8
    index layout's ``qvec`` + ``scale``, decoded as code × scale."""
    import numpy as np
    import pandas as pd

    def run(batches):
        payload = bc.value
        q_ids, Qn = payload[0], payload[1]
        if len(q_ids) == 0:
            return
        pool = _TaskPool(len(q_ids), top_n, compact_rows, dedup)
        for pdf in batches:
            if not len(pdf):
                continue
            if "qvec" in pdf.columns:
                M = np.array(list(pdf["qvec"]), dtype=np.float64)
                M *= pdf["scale"].to_numpy(dtype=np.float64)[:, None]
            else:
                M = np.array(list(pdf["__v"]), dtype=np.float64)
            C = _unit_rows(M)
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            for rows, qidx in blocks(payload, pdf, M, C):
                for qi, c, s in _block_topk(C[rows], c_ids[rows], Qn, qidx, top_n, decimals):
                    pool.add(qi, c, s)
        if pool.parts:
            q, c, s = pool.compact()
            yield pd.DataFrame(
                {"q_id": np.asarray(q_ids, dtype=np.int64)[q], "c_id": c, "cosine": s}
            )

    return run


def _lsh_taskmerge_kernel(bc, top_n: int, compact_rows: int = _POOL_COMPACT_ROWS):
    """mapInPandas kernel of :func:`lsh_topk`. ``bc`` broadcasts
    ``(q_ids, Qn, w_flat, n_tables, n_planes, tables)`` where
    ``tables[t]`` maps a signature to the indices (into ``Qn``) of the
    queries probing that bucket of table ``t`` (multiprobe expansion
    already applied). Each batch's vectors are signed
    (:func:`_signatures`); every locally present probed bucket of every
    table is one scoring block. Scores are quantized to
    ``_SCORE_DECIMALS`` straight off each gemm — BEFORE the threshold,
    the block cut and every pool cut — so the (score DESC, id ASC)
    order is identical across block decompositions and a pair that
    collides in several tables carries one score (the pool keeps one
    instance)."""
    import numpy as np

    def blocks(payload, pdf, M, C):
        _, _, w_flat, n_tables, n_planes, tables = payload
        sigs = _signatures(M, w_flat, n_tables, n_planes)
        for t in range(n_tables):
            uniq, inv = np.unique(sigs[:, t], return_inverse=True)
            for ui, sig in enumerate(uniq):
                qidx = tables[t].get(int(sig))
                if qidx is not None and len(qidx):
                    yield np.flatnonzero(inv == ui), qidx

    return _pooled_kernel(
        bc, top_n, compact_rows, blocks, dedup=True, decimals=_SCORE_DECIMALS
    )


def _centroid_assign_kernel(bc, id_name: str, top: int, vec_out: str | None = None):
    """mapInPandas kernel: nearest-`top` centroid cells per vector via
    one matmul per Arrow batch against the broadcast centroid matrix.
    Ties break to the lowest cell (stable argsort). With ``vec_out`` the
    input vector is passed through (index-build path)."""
    import numpy as np
    import pandas as pd

    def run(batches):
        c = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            M = np.array(list(pdf["__v"]), dtype=np.float64)
            nrm = np.linalg.norm(M, axis=1)
            nrm[nrm == 0] = 1.0
            sims = (M / nrm[:, None]) @ c.T  # (n, n_cells)
            ids = pdf[id_name].to_numpy(dtype=np.int64)
            if top == 1:
                cells = np.argmax(sims, axis=1)  # first max = lowest cell
                out = {id_name: ids, "cell": cells.astype(np.int32)}
                if vec_out is not None:
                    out[vec_out] = pdf["__v"]
                yield pd.DataFrame(out)
            else:
                # stable top-`top` cells per row: (-sim, cell) lexsort
                order = np.argsort(-sims, axis=1, kind="stable")[:, :top]
                yield pd.DataFrame(
                    {
                        id_name: np.repeat(ids, top),
                        "cell": order.ravel().astype(np.int32),
                    }
                )

    return run


def _ivf_taskmerge_kernel(bc, top_n: int, compact_rows: int = _POOL_COMPACT_ROWS):
    """mapInPandas kernel of :func:`ivf_topk` and :func:`ivf_index_topk`.
    ``bc`` broadcasts ``(q_ids, Qn, cent, probing)``: ``probing[cell]``
    = indices (into ``Qn``) of the queries whose n_probe nearest cells
    include ``cell``. With centroids, each vector's cell is its nearest
    normalized centroid (ties to the lowest cell, as in
    :func:`_centroid_assign_kernel`); with ``cent=None`` the rows carry
    the ``cell`` column a persisted index stored. Every locally present
    probed cell is one scoring block. A corpus vector lives in exactly
    one cell and one batch, so every pair is scored ONCE and the pool
    needs no dedup."""
    import numpy as np

    def blocks(payload, pdf, M, C):
        cent, probing = payload[2], payload[3]
        if cent is None:
            cells = pdf["cell"].to_numpy(dtype=np.int64)
        else:
            cells = np.argmax(C @ cent.T, axis=1)  # first max = lowest cell
        for cell in np.unique(cells):
            qidx = probing[cell]
            if len(qidx):
                yield np.flatnonzero(cells == cell), qidx

    return _pooled_kernel(bc, top_n, compact_rows, blocks)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 12,
    dims: int | None = None,
    centroid_max_bytes: int = 64_000_000,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) cell bucketing —
    the second scale path next to :func:`lsh_topk`.

    Structure: ``n_cells`` centroids; every corpus vector is assigned to
    its nearest centroid (one map-only Arrow matmul pass); a query
    probes its ``n_probe`` nearest cells and scores ONLY the vectors in
    those cells — a ~``n_probe/n_cells`` fraction of the corpus per
    query instead of a full scan.

    The default ``n_probe=12`` (of 16 cells) targets recall@10 ≥ 0.9 on
    the WORST-CASE input for IVF — near-uniform random embeddings, where
    a query's true neighbors scatter across many cells (measured 0.92 at
    sf0.01 / 0.93 at sf0.1 on the synthetic fixtures; the old default of
    4 measured 0.53). Real embedding corpora cluster, so production
    deployments should Lloyd-train centroids (:func:`ivf_train_centroids`
    with ``n_iters>0`` + the persisted index path) and tune ``n_probe``
    DOWN against the ``ann_recall`` scorecard — that is where the
    n_probe/n_cells scan saving actually pays.

    Centroid selection is deterministic and oracle-mirrorable: the
    ``n_cells`` corpus rows with the smallest ids (ids are uncorrelated
    with embedding content, so this is an unbiased sample). In a
    production deployment you would Lloyd-train the centroids on a
    sample and persist the assignment partitioned by cell
    (``write.partitionBy("cell")``) so probes prune at the file level;
    the seed-sample centroids keep every downstream stage identical
    while making the whole operator reproducible in plain SQL.

    At 100 TB: ONE map-only pass over the corpus — each partition
    assigns its vectors to cells (broadcast centroid matmul), scores
    them against only the queries probing those cells (broadcast
    inverted probe map), and keeps ONE running per-query top-k pool
    for the whole task (:func:`_ivf_taskmerge_kernel`), emitting
    ≤ queries × k rows per task. No probe join, no candidate→vector
    re-attach shuffle (the earlier shape shuffled the corpus on c_id
    to re-fetch vectors the map pass already held); the final exchange
    moves O(tasks × queries × k) rows and the map-side rank≤k prune
    sorts only the already-merged pool (≈12 MB/task at the sf100
    census that previously sorted 4.8M rows/task, 127 GB spill —
    SHUFFLE_r09.md). Ties everywhere break by id/cell ascending.
    """
    from sdvg_spark.ops.dedup import bounded_local_vectors

    # Byte cap on the centroid collect: with `dims` in hand the cap is a
    # correct row cap (single-job collect path); without it, run the
    # estimate-job path — known_dims=1 here would silently turn the byte
    # cap into a row cap of max_bytes//16 and let a wide-vector collect
    # exceed the cap by ~dims/2× before the guard fires.
    loc = bounded_local_vectors(
        corpus.orderBy(F.col(corpus_id)).limit(n_cells),
        corpus_id,
        corpus_vec,
        centroid_max_bytes,
        known_dims=dims,
    )
    if loc is None:  # n_cells rows alone exceeded the cap
        raise ValueError("n_cells × dims exceeds centroid_max_bytes")
    cent = _unit_rows(loc[1])  # ids sorted ascending -> cell index = rank of id
    spark = corpus.sparkSession

    # The queries are collected ONCE (single job: dims known from the
    # centroids) and probe their cells driver-side with the assignment
    # kernel's arithmetic; the inverted cell→queries map then rides the
    # broadcast into the corpus pass.
    q_ids, Q = _local_queries(queries, query_id, query_vec, cent.shape[1])
    if len(q_ids) == 0:
        return _empty_result(spark)
    Qn = _unit_rows(Q)
    bc = spark.sparkContext.broadcast((q_ids, Qn, cent, _probing(Qn, cent, n_probe)))
    kernel = _ivf_taskmerge_kernel(bc, int(k))
    return _ranked(_corpus_pass(corpus, corpus_id, corpus_vec, kernel), k)


def _rewrite_filter(query_filter: str, id_col: str, alias: str) -> str:
    """Re-target an id-column predicate at a subquery alias.

    Two accepted forms: a ``{id}`` template (``"{id} % 50 = 0"``, safest
    — substitution is explicit), or a plain SQL snippet naming
    ``id_col``, rewritten on WORD BOUNDARIES only so a column whose name
    merely contains ``id_col`` as a substring (``vec_id_group``) is
    never corrupted. Table-qualified references (``t.vec_id``) are out
    of contract for the plain form — use the template."""
    import re

    if "{id}" in query_filter:
        return query_filter.format(id=alias)
    return re.sub(rf"\b{re.escape(id_col)}\b", alias, query_filter)


def ivf_topk_oracle_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id % 50 = 0",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 12,
) -> str:
    """DuckDB SQL reproducing :func:`ivf_topk` value-for-value: same
    smallest-id centroids, same nearest-cell assignment (ties -> lowest
    cell), same n_probe probing, same (cosine DESC, id) ranking."""
    return f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cell, {vec_col} AS cvec
  FROM (SELECT * FROM {table} ORDER BY {id_col} LIMIT {n_cells})),
asgn AS (
  SELECT vid AS c_id, cell FROM (
    SELECT e.{id_col} AS vid, c.cell,
      row_number() OVER (PARTITION BY e.{id_col}
        ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                 c.cell) AS rn
    FROM {table} e CROSS JOIN cent c)
  WHERE rn = 1),
qprobe AS (
  SELECT vid AS q_id, cell FROM (
    SELECT e.{id_col} AS vid, c.cell,
      row_number() OVER (PARTITION BY e.{id_col}
        ORDER BY list_cosine_similarity(e.{vec_col}::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                 c.cell) AS rn
    FROM {table} e CROSS JOIN cent c
    WHERE {_rewrite_filter(query_filter, id_col, f'e.{id_col}')})
  WHERE rn <= {n_probe}),
cand AS (SELECT DISTINCT q.q_id, a.c_id FROM qprobe q JOIN asgn a USING (cell)),
scored AS (
  SELECT cand.q_id, cand.c_id,
    list_cosine_similarity(qe.{vec_col}::DOUBLE[], ce.{vec_col}::DOUBLE[]) AS cos
  FROM cand
  JOIN {table} qe ON qe.{id_col} = cand.q_id
  JOIN {table} ce ON ce.{id_col} = cand.c_id),
r AS (SELECT q_id, c_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored)
SELECT q_id, c_id, rank FROM r WHERE rank <= {k}"""


def lsh_topk_oracle_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id % 50 = 0",
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    multiprobe: int = 1,
    seed: int = 7,
    dims: int = 64,
) -> str:
    """DuckDB SQL reproducing :func:`lsh_topk` value-for-value.

    The hyperplane weights are deterministic (splitmix64-seeded), so the
    oracle embeds them as literals and re-derives every signature with
    ``list_dot_product`` — only the SIGN of each dot product is
    consumed, so float64 accumulation-order differences between numpy's
    matmul and DuckDB's sequential dot cannot flip a bucket except for
    dots within ~1e-15 of zero. Probing, candidate dedup, exact cosine
    scoring, and the (cosine DESC, id) ranking all mirror the Spark op.
    """
    w = hyperplane_weights(n_planes, n_tables, seed, dims)
    rows = ",\n    ".join(
        f"({t}, {p}, [{', '.join(repr(float(x)) for x in w[t, p])}]::DOUBLE[])"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    probe_exprs = ["sig"]
    if multiprobe >= 1:
        probe_exprs += [f"xor(sig, {1 << b})" for b in range(n_planes)]
    if multiprobe >= 2:
        probe_exprs += [
            f"xor(xor(sig, {1 << b1}), {1 << b2})"
            for b1 in range(n_planes)
            for b2 in range(b1 + 1, n_planes)
        ]
    return f"""
WITH w(t, p, wv) AS (VALUES
    {rows}),
sigs AS (
  SELECT e.{id_col} AS vid, w.t,
    sum(CASE WHEN list_dot_product(e.{vec_col}::DOUBLE[], w.wv) >= 0
             THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS sig
  FROM {table} e CROSS JOIN w GROUP BY e.{id_col}, w.t),
qp AS (
  SELECT vid AS q_id, t, unnest([{', '.join(probe_exprs)}]) AS psig
  FROM sigs WHERE {_rewrite_filter(query_filter, id_col, 'vid')}),
cand AS (
  SELECT DISTINCT qp.q_id, c.vid AS c_id
  FROM qp JOIN sigs c ON c.t = qp.t AND c.sig = qp.psig),
scored AS (
  SELECT cand.q_id, cand.c_id,
    list_cosine_similarity(qe.{vec_col}::DOUBLE[], ce.{vec_col}::DOUBLE[]) AS cos
  FROM cand
  JOIN {table} qe ON qe.{id_col} = cand.q_id
  JOIN {table} ce ON ce.{id_col} = cand.c_id),
r AS (
  SELECT q_id, c_id,
    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
  FROM scored)
SELECT q_id, c_id, rank FROM r WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# Persisted IVF index: Lloyd-trained centroids + partitionBy("cell")
# layout. The production-scale complement to :func:`ivf_topk` (which
# stays the deterministic seed-sample/oracle path): training happens
# once offline, the assignment is persisted partitioned by cell, and a
# probe prunes unprobed cells at the FILE level — a 4/16-probe search
# reads 1/4 of the index bytes before any compute runs.


def ivf_train_centroids(
    corpus: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    n_cells: int = 16,
    n_iters: int = 8,
    dims: int | None = None,
    sample_max_bytes: int = 64_000_000,
    n_rows: int | None = None,
):
    """Spherical k-means centroids, Lloyd-trained on a deterministic
    sample (``frf(id) < fraction`` with the fraction sized so the sample
    fits ``sample_max_bytes``), seeded from the ``n_cells`` smallest-id
    sample rows — same seeding rule as :func:`ivf_topk`, so n_iters=0
    degenerates to the oracle path's centroids (over the sample).

    Sampling hashes the id (the repo's deterministic frf draw) rather
    than taking ``id % stride``: a modulus assumes a dense non-negative
    id space, and sparse/structured ids (snowflake-style, all-even, …)
    would make a modulus sample empty or skewed. The hash draw is
    id-distribution-independent and still a pure f(id) — same sample on
    every run, partitioning, and retry.

    Training is driver-local numpy over a byte-capped sample — the same
    strategy FAISS-style ANN libraries use (train on sample, apply to
    corpus). The corpus itself is never collected. ``n_rows`` / ``dims``
    (corpus row count and vector width, e.g. from parquet footer
    metadata or catalog stats) skip the sizing ``count()`` and the
    width-probe job; with both in hand the sample collect itself is a
    single limit-guarded job (``known_dims`` row cap) instead of
    estimate job + collect job.

    Returns a unit-normalized (n_cells, dims) float64 matrix.
    """
    import numpy as np

    from sdvg_spark.ops.dedup import _infer_dims, bounded_local_vectors

    if dims is None:
        dims = _infer_dims(corpus, corpus_vec)
    from sdvg_spark.core.rng import frf_col

    n = corpus.count() if n_rows is None else int(n_rows)
    frac = min(1.0, sample_max_bytes / max(1, n * (8 * dims + 8)))
    sample = corpus if frac >= 1.0 else corpus.where(frf_col(F.col(corpus_id)) < frac)
    loc = bounded_local_vectors(
        sample, corpus_id, corpus_vec, sample_max_bytes, known_dims=dims
    )
    if loc is None:  # byte estimate was off (wider rows than assumed): halve
        sample = corpus.where(frf_col(F.col(corpus_id)) < frac / 2)
        loc = bounded_local_vectors(
            sample, corpus_id, corpus_vec, sample_max_bytes, known_dims=dims
        )
        if loc is None:
            raise ValueError("sample exceeds sample_max_bytes even at half fraction")
    ids, M = loc
    if len(ids) < n_cells:
        raise ValueError(f"sample has {len(ids)} rows < n_cells={n_cells}")
    M = _unit_rows(M)
    cent = M[:n_cells].copy()  # ids sorted ascending -> smallest-id seed
    for _ in range(n_iters):
        assign = np.argmax(M @ cent.T, axis=1)  # first max = lowest cell
        for c in range(n_cells):
            members = M[assign == c]
            if len(members):  # empty cell keeps its previous centroid
                v = members.mean(axis=0)
                l2 = np.linalg.norm(v)
                if l2 > 0:
                    cent[c] = v / l2
    return cent


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    centroids,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    quantize: bool = False,
) -> None:
    """Assign every corpus vector to its nearest centroid (one map-only
    Arrow matmul pass) and persist ``(c_id, vec, cell)`` partitioned by
    cell — probes then prune at the file level. The vector rides through
    the kernel, so the write needs no join back to the corpus.

    With ``quantize=True`` the index stores int8 codes + a per-vector
    scale instead of the raw vector (``sdvg_spark.ops.vectors``): ~4×
    smaller index files; search dequantizes on read, costing a bounded
    scale/2-per-element reconstruction error (cosine ranks are stable to
    it at SQ8 precision — see the recall test)."""
    from sdvg_spark.ops.vectors import quantize_embeddings

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    vec_type = dict(corpus.dtypes)[corpus_vec]
    assigned = corpus.select(
        F.col(corpus_id).alias("c_id"), F.col(corpus_vec).alias("__v")
    ).mapInPandas(
        _centroid_assign_kernel(bc, "c_id", 1, vec_out="vec"),
        f"c_id long, cell int, vec {vec_type}",
    )
    if quantize:
        assigned = quantize_embeddings(assigned, "c_id", "vec", keep=["cell"])
    # Cluster rows by cell before the partitioned write: without it
    # every map task writes a file into EVERY cell directory it touches
    # (tasks × cells files — at the sf100 probe layout that is 1062
    # partitions × cells of ~30 KB fragments). One exchange of the
    # index payload buys ≤ salt_mod files per cell, each sized near the
    # target; salt_mod derives from the CORPUS byte estimate so write
    # parallelism is bytes-proportional, not a constant. Row order
    # inside index files is irrelevant to search results: per-row
    # scores are independent dot products and the top-k tie rule keeps
    # every k-th-score tie before the (score DESC, id ASC) cut.
    salt_mod = _index_file_salt(corpus, len(centroids), quantize)
    assigned = assigned.repartition(
        len(centroids) * salt_mod,
        F.col("cell"),
        F.pmod(F.col("c_id"), F.lit(salt_mod)),
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


_INDEX_TARGET_FILE_BYTES = 256 << 20


def _index_file_salt(corpus: DataFrame, n_cells: int, quantize: bool) -> int:
    """Files-per-cell for the clustered index write: enough salt groups
    that each file lands near ``_INDEX_TARGET_FILE_BYTES`` of source
    payload (int8 indexes count ~1/4 — code + scale vs float64 vec).
    Falls back to source-partition count per cell when plan statistics
    are the unknown-size sentinel, keeping write parallelism of the
    same order as the read parallelism."""
    try:
        est = int(
            corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - stats unavailable
        est = -1
    if quantize and est > 0:
        est = est // 4
    if 0 < est < (1 << 60):
        return max(1, -(-est // (n_cells * _INDEX_TARGET_FILE_BYTES)))
    try:  # pragma: no cover - unknown-stats fallback
        src = corpus._jdf.rdd().getNumPartitions()
    except Exception:  # pragma: no cover - connect-style sessions
        src = corpus.rdd.getNumPartitions()
    return max(1, -(-src // max(n_cells, 1)))  # pragma: no cover


def ivf_index_topk(
    queries: DataFrame,
    path: str,
    centroids,
    *,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    k: int = 10,
    n_probe: int = 12,
    index_schema: str | None = None,
) -> DataFrame:
    """Top-k cosine search against a persisted IVF index.

    ``index_schema`` (a DDL string, e.g. ``"c_id long, vec
    array<float>, cell int"`` — what :func:`ivf_write_index` produced)
    skips the reader's schema-inference job; the caller that just
    wrote the index knows it. Omitted, the schema is inferred from
    footers as usual.

    The probed cell set (≤ n_cells values by construction — it is a
    subset of the centroid count, not data-sized) is derived driver-side
    from the collected query matrix (:func:`_probing`) and pushed into
    the parquet scan as a partition filter, so unprobed cells are pruned
    before any bytes are read. The scan feeds :func:`_ivf_taskmerge_kernel`
    directly: candidates come out WITH their vectors (the int8 layout
    is decoded as code × scale inside the kernel) and their stored
    cell, so nothing is joined and each task emits ≤ queries × k rows.
    """
    import numpy as np

    spark = queries.sparkSession
    cent = np.asarray(centroids, dtype=np.float64)
    q_ids, Q = _local_queries(queries, query_id, query_vec, cent.shape[1])
    if len(q_ids) == 0:
        return _empty_result(spark)
    Qn = _unit_rows(Q)
    # centroids arrive normalized from ivf_train_centroids
    probing = _probing(Qn, cent, n_probe)
    bc = spark.sparkContext.broadcast((q_ids, Qn, None, probing))
    reader = spark.read if index_schema is None else spark.read.schema(index_schema)
    index = reader.parquet(path).where(
        F.col("cell").isin([c for c, qidx in enumerate(probing) if len(qidx)])
    )
    if "qvec" in index.columns:
        index = index.select("c_id", "cell", "qvec", "scale")
    else:
        index = index.select("c_id", "cell", F.col("vec").alias("__v"))
    return _ranked(index.mapInPandas(_ivf_taskmerge_kernel(bc, int(k)), _PAIRS), k)


def quantized_rescore_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    k: int = 10,
    shortlist: int = 4,
    max_query_bytes: int = 256_000_000,
    dims: int | None = None,
) -> DataFrame:
    """Two-stage retrieval: int8-quantized shortlist, exact rescore.

    ``dims`` (vector width from footer metadata/catalog stats) makes
    the query collect a single limit-guarded job — see
    :func:`brute_force_topk`.

    Stage 1 scores the WHOLE corpus against the queries on quantized
    codes — an int8 matmul per Arrow batch, reading 1/4 of the float
    bytes — and keeps the top ``k·shortlist`` candidates per query
    (cosine of the quantized vectors; scales cancel). Stage 2 re-scores
    only those candidates on the raw vectors and emits the exact-cosine
    top-k. This is the standard memory-bandwidth trade of production
    vector stores: the full-precision column is touched only for
    ~k·shortlist rows per query.

    Every arithmetic step is deterministic and SQL-mirrorable: integer
    dot products are exact in float64 (≤2^53), ties break by id, so the
    shortlist itself — not just the final ranking — is reproducible in
    the DuckDB oracle.

    Fused plan shape: this operator quantizes the corpus ON THE FLY
    (there is no persisted int8 index here — see ``ivf_write_index``
    for that), so stage 1 already holds each partition's raw vectors.
    One mapInPandas pass quantizes (same half-away-from-zero rule as
    ``quantize_embeddings``, bit-exact), scores codes against the
    broadcast query codes, keeps the partition-local approx
    top-``k·shortlist`` per query (boundary ties survive to the id
    tiebreak), and attaches the EXACT cosine for just those rows — the
    rescore needs no second corpus scan and no shortlist broadcast
    join. Two k-sized windows then pick the global shortlist (approx
    order) and the final ranking (exact order); the only exchange is
    O(partitions × queries × k·shortlist) rows.
    """
    import numpy as np

    from sdvg_spark.ops.vectors import Q_MAX

    spark = corpus.sparkSession
    q_ids, q_mat = _local_queries(queries, query_id, query_vec, dims, max_query_bytes)
    if len(q_ids) == 0:
        return _empty_result(spark)
    # quantize queries with the same rule as the corpus codes. Rounding
    # must be half-away-from-zero ON THE EXACT DOUBLE to match Spark's
    # round()/DuckDB's round(): np.round is banker's (ties to even),
    # and floor(|x|+0.5) mis-rounds values one ulp below a half (the
    # add carries them up). Compare the exact fractional part instead.
    q_amax = np.abs(q_mat).max(axis=1)
    q_scale = np.where(q_amax > 0, q_amax / Q_MAX, 1.0)
    scaled = q_mat / q_scale[:, None]
    whole = np.trunc(scaled)
    frac = scaled - whole  # exact: |scaled| <= 127 << 2^52
    q_codes = whole + np.where(np.abs(frac) >= 0.5, np.copysign(1.0, scaled), 0.0)
    q_cc = (q_codes * q_codes).sum(axis=1)  # exact ints in float64
    bc = spark.sparkContext.broadcast((q_ids, q_codes, q_cc, _unit_rows(q_mat)))
    short_n = int(k * shortlist)

    part = _corpus_pass(
        corpus,
        corpus_id,
        corpus_vec,
        _quantized_fused_kernel(bc, short_n),
        "q_id long, c_id long, approx double, cosine double",
    )
    shortlisted = part.withColumn(
        "srank",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("approx"), F.asc("c_id"))
        ),
    ).where(F.col("srank") <= short_n)
    return _ranked(shortlisted, k)


def quantized_rescore_oracle_sql(
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id % 50 = 0",
    k: int = 10,
    shortlist: int = 4,
) -> str:
    """DuckDB mirror of :func:`quantized_rescore_topk` value-for-value:
    the same int8 codes, the same exact integer dot products (float64
    holds them exactly), the same tie-breaks for shortlist and final."""
    q_max = 127
    return f"""
WITH b AS (SELECT {id_col} AS vid, list_transform({vec_col}, x -> x::DOUBLE) AS v FROM {table}),
s AS (SELECT vid, v,
        (CASE WHEN amax > 0 THEN amax / {float(q_max)!r} ELSE 1.0 END) AS scale
      FROM (SELECT vid, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM b)),
qz AS (SELECT vid, v, list_transform(v, x -> round(x / scale)) AS qv FROM s),
cand AS (
  SELECT q.vid AS q_id, c.vid AS c_id,
    (CASE WHEN cc * qq > 0 THEN dot / sqrt(cc * qq) ELSE -2.0 END) AS approx
  FROM (SELECT vid, qv, list_dot_product(qv, qv) AS qq FROM qz WHERE {_rewrite_filter(query_filter, id_col, 'vid')}) q
  CROSS JOIN (SELECT vid, qv, list_dot_product(qv, qv) AS cc FROM qz) c,
  LATERAL (SELECT list_dot_product(q.qv, c.qv) AS dot)),
short AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
      row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, c_id) AS srank
    FROM cand) WHERE srank <= {k * shortlist}),
scored AS (
  SELECT short.q_id, short.c_id,
    list_cosine_similarity(qe.{vec_col}::DOUBLE[], ce.{vec_col}::DOUBLE[]) AS cos
  FROM short
  JOIN {table} qe ON qe.{id_col} = short.q_id
  JOIN {table} ce ON ce.{id_col} = short.c_id),
r AS (SELECT q_id, c_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored)
SELECT q_id, c_id, rank FROM r WHERE rank <= {k}"""
