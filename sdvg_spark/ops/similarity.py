"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one broadcast of the query set,
one scan of the corpus, per-partition partial top-k then a tiny final
reduce (never a global sort of the scored corpus). Scale path:
random-hyperplane LSH bucketing (search only matching buckets) with
multi-probe, trading recall for a corpus-fraction scan.

Brute-force scoring is an Arrow-batched numpy matmul per partition
(corpus-block × queriesᵀ): Spark's higher-order lambdas evaluate
interpreted per element, so a vectorized Pandas-UDF block beats the
"native" zip_with dot product by ~10×.

The LSH and IVF entry points run TASK-MERGED kernels by default
(``_lsh_taskmerge_kernel`` / ``_ivf_taskmerge_kernel``, folded back
from the round-9 ops/ivf_merge.py staging module): one running
per-query top-k pool per task, emitting ≤ queries × k rows at task
end instead of per (batch, cell/bucket). The per-batch kernels
(``_lsh_fused_kernel`` / ``_ivf_fused_kernel``) are retained as the
semantic reference the property suite reduces the merged kernels
against — at the sf100 census the per-batch ivf emission cost a
127 GB memory / 51 GB disk pre-rank sort spill and the per-batch lsh
triple buffer OOM-killed the Python workers (SHUFFLE_r09.md), while
the merged kernels run both censuses with ZERO spill at equal wall.

LSH score-quantization contract: both lsh kernels round every cosine
to ``_SCORE_DECIMALS`` right after the gemm, BEFORE any threshold or
cut. The same (query, candidate) pair is scored in different gemm
block shapes across the two kernels (full-bucket vs chunked) and
across tables, so mathematically-tied scores (duplicate vectors)
differ in the last ulp and exact-float tie-breaking becomes
block-shape-dependent — Hypothesis found a pool cut permanently
evicting the (score DESC, id ASC) tie winner (r9 verdict #1).
Rounding makes true ties true, the order a total order consistent
across any block decomposition, and the pool's exact cuts
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

# Decimal places both LSH kernels round cosines to before any
# threshold/cut (see the module docstring's quantization contract).
_SCORE_DECIMALS = 12

# Compact a task-merged kernel's running pool once it holds this many
# candidate rows (3 × int64/float64 arrays ≈ 24 MB at the bound):
# large enough that compaction is amortized across many emit-bounded
# blocks, small enough that a task's peak candidate footprint stays
# flat no matter how many batches × cells/buckets it scans.
_POOL_COMPACT_ROWS = 1_000_000


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


def _block_topk_into(C_rows, block_ids, Qn, qidx, q_ids, top_n, out_q, out_c, out_s):
    """Score one cell/bucket block against its probing queries and
    append each query's block-local top-k to the output accumulators.

    Exact selection semantics (shared by every search path, and what
    the DuckDB oracles mirror): per query, keep every row whose score
    ties the k-th largest, then order by (score DESC, id ASC) and cut
    at k. Fully vectorized — the k-th score per column comes from one
    ``np.partition``, the tied candidates from one boolean mask, and
    the per-column (score DESC, id ASC) cut from one ``lexsort`` +
    group-rank pass — so cost is O(rows × chunk) with NO per-query
    Python loop (the loop was ~0.5 ms × queries × cells × batches: at
    the sf100 probe that extrapolated to hours of pure argpartition
    calls)."""
    import numpy as np

    m = len(block_ids)
    if m == 0 or len(qidx) == 0:
        return
    q_ids = np.asarray(q_ids, dtype=np.int64)
    qidx = np.asarray(qidx, dtype=np.int64)
    top = min(int(top_n), m)
    chunk = max(1, _SCORE_CHUNK_ELEMS // m)
    for s in range(0, len(qidx), chunk):
        qc = qidx[s : s + chunk]
        sims = C_rows @ Qn[qc].T  # (m, |qc|)
        cols, rows = _topk_select(sims, block_ids, top)
        out_q.append(q_ids[qc[cols]])
        out_c.append(block_ids[rows])
        out_s.append(sims[rows, cols])


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


def hyperplane_sigs_df(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_planes: int,
    n_tables: int,
    seed: int,
    dims: int,
    out_id: str = "__id",
) -> DataFrame:
    """(id, __t, __sig): per-table sign signatures via one Arrow-batched
    numpy matmul per partition — map-only, no shuffle.

    Replaces the expression form (``F.aggregate``/``zip_with`` lambdas,
    which Spark evaluates interpreted at n_tables × n_planes × dims ops
    per row — ~6k interpreted mul-adds per corpus row at the entry's
    settings) with a single (batch × dims) @ (dims × tables·planes)
    float64 matmul. Bit p of table t's signature = dot(vec, w[t,p]) ≥ 0.
    """
    import numpy as np
    import pandas as pd

    w = hyperplane_weights(n_planes, n_tables, seed, dims)
    w_flat = w.reshape(n_tables * n_planes, dims)

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (M @ w_flat.T) >= 0  # (n, T*P)
            sigs = np.zeros((n, n_tables), dtype=np.int64)
            for t in range(n_tables):
                for p in range(n_planes):
                    sigs[:, t] |= bits[:, t * n_planes + p].astype(np.int64) << p
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, n_tables),
                    "__t": np.tile(np.arange(n_tables, dtype=np.int32), n),
                    "__sig": sigs.ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{out_id} long, __t int, __sig long"
    )


def _partition_topk_kernel(bc, vec_col: str, top_n: int, score, out_col: str = "score"):
    """mapInPandas kernel factory: deterministic partition-local top-k
    per query over an arbitrary scoring function.

    ``bc`` broadcasts a payload tuple whose FIRST element is the query
    id array; ``score(C, payload)`` maps an (m × dims) float64 block to
    an (m × n_queries) similarity matrix. Boundary ties must all
    survive to the (score DESC, c_id ASC) lexsort (duplicate vectors ⇒
    identical scores), so every row ≥ the top_n-th value is kept before
    the id tiebreak cuts — the local cut can then never drop a row the
    global top-k needs. The cut is applied PER ARROW BATCH and the
    ranking window reduces across batches and partitions alike (a
    global top-k row is top-k within every subset containing it, so a
    finer cut stays correct) — peak memory is O(batch), never
    O(partition vectors), and wide 100 TB partitions cannot OOM the
    task. Yields nothing for empty partitions or an empty query set.
    """
    import numpy as np
    import pandas as pd

    def run(batches):
        payload = bc.value
        b_qids = payload[0]
        if len(b_qids) == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            sims = score(C, payload)  # (m_batch, n_queries)
            m = len(c_ids)
            top = min(top_n, m)
            cols, rows = _topk_select(sims, c_ids, top)
            yield pd.DataFrame(
                {
                    "q_id": np.asarray(b_qids, dtype=np.int64)[cols],
                    "c_id": c_ids[rows],
                    out_col: sims[rows, cols],
                }
            )

    return run


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
    corpus partition computes its normalized block × queriesᵀ in numpy
    and emits only its partition-local top-k per query, so the final
    reduce shuffles O(q·k·partitions) rows, not O(q·corpus).

    The query matrix rides through :func:`bounded_local_vectors`
    (pre-flight byte estimate, ``max_query_bytes``) — a query set too
    big to broadcast raises instead of OOMing the driver. ``dims``
    (the vector width, e.g. from parquet footer metadata or catalog
    stats) turns the byte cap into a row cap so the collect is a
    single limit-guarded job instead of estimate job + collect job.

    Ties broken by corpus id ascending (deterministic).
    """
    import numpy as np

    from sdvg_spark.ops.dedup import bounded_local_vectors, widen

    spark = corpus.sparkSession
    loc = bounded_local_vectors(
        queries.select(F.col(query_id).alias("q_id"), F.col(query_vec).alias("__qv")),
        "q_id",
        "__qv",
        max_query_bytes,
        known_dims=dims,
    )
    if loc is None:
        raise ValueError(
            f"query set exceeds max_query_bytes={max_query_bytes}; brute-force "
            "top-k broadcasts the query matrix — shrink the query set, raise "
            "the cap, or use lsh_topk"
        )
    q_ids, q_mat = loc
    if len(q_ids) == 0:
        return spark.createDataFrame(
            [], "q_id long, c_id long, cosine double, rank int"
        )
    qn = np.linalg.norm(q_mat, axis=1)
    qn[qn == 0] = 1.0
    q_mat = q_mat / qn[:, None]
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def cosine_scores(C, payload):
        _, b_q = payload
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = 1.0
        return (C / cn[:, None]) @ b_q.T  # (m, n_queries)

    c = widen(corpus, min_bytes=4 << 20).select(F.col(corpus_id).alias("c_id"), F.col(corpus_vec).alias("__cv"))
    part = c.mapInPandas(
        _partition_topk_kernel(bc, "__cv", int(k), cosine_scores, out_col="cosine"),
        "q_id long, c_id long, cosine double",
    )
    final = part.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))),
    ).where(F.col("rank") <= k)
    return final.select("q_id", "c_id", "cosine", "rank")


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
    several tables appears once, matching the old dropDuplicates), and
    keeps ONE running per-query top-k pool for the whole task
    (:func:`_lsh_taskmerge_kernel` — bounded-pool emission; the
    per-batch kernel's triple buffer was ~110 GB per Arrow batch at
    the sf100 census and OOM-killed the workers). No bucket join, no
    candidate→vector re-attach shuffle, no global dedup exchange; the
    final exchange moves only O(tasks × queries × k) rows into the
    ranking window. Cosines are quantized to ``_SCORE_DECIMALS`` (see
    the module docstring) so tie-breaking is block-shape-independent.
    """
    import numpy as np
    import pandas as pd

    from sdvg_spark.ops.dedup import bounded_local_vectors, widen

    spark = corpus.sparkSession
    # dims (when the caller knows it — footer metadata/catalog stats)
    # turns the byte cap into a row cap: single-job collect, no
    # estimate action (same contract as ivf_topk's query collect)
    qloc = bounded_local_vectors(
        queries.select(F.col(query_id).alias("q_id"), F.col(query_vec).alias("__qv")),
        "q_id",
        "__qv",
        256_000_000,
        known_dims=dims,
    )
    if qloc is None:
        raise ValueError("query set exceeds max_query_bytes")
    q_ids, Q = qloc
    if len(q_ids) == 0:
        return spark.createDataFrame(
            [], "q_id long, c_id long, cosine double, rank int"
        )
    if dims is None:
        dims = Q.shape[1]
    w_flat = hyperplane_weights(n_planes, n_tables, seed, dims).reshape(
        n_tables * n_planes, dims
    )
    # query signatures + multiprobe expansion, driver-side (same
    # sign-of-dot rule as hyperplane_sigs_df, raw vectors)
    qbits = (Q @ w_flat.T) >= 0
    qsigs = np.zeros((len(q_ids), n_tables), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            qsigs[:, t] |= qbits[:, t * n_planes + p].astype(np.int64) << p
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
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qn = Q / qn[:, None]
    bc = spark.sparkContext.broadcast(
        (q_ids, Qn, w_flat, n_tables, n_planes, tables)
    )
    part = (
        widen(corpus, min_bytes=4 << 20)
        .select(F.col(corpus_id).alias("c_id"), F.col(corpus_vec).alias("__v"))
        .mapInPandas(
            _lsh_taskmerge_kernel(bc, int(k)), "q_id long, c_id long, cosine double"
        )
    )
    final = part.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))),
    ).where(F.col("rank") <= k)
    return final.select("q_id", "c_id", "cosine", "rank")


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


def _lsh_fused_kernel(bc, top_n: int):
    """mapInPandas kernel: per-table signatures + bucket lookup +
    scoring + per-query partition-local top-k in ONE pass over the
    corpus.

    ``bc`` broadcasts ``(q_ids, Qn, w_flat, n_tables, n_planes,
    tables)`` where ``tables[t]`` maps a signature to the indices (into
    ``Qn``) of the queries probing that bucket of table ``t``
    (multiprobe expansion already applied). Each partition buffers its
    vectors, signs them against the hyperplane tensor, scores each
    locally-present probed bucket's rows against that bucket's queries,
    dedups candidates per query across tables (same-pair collisions in
    several tables count once — legal per batch because a corpus row
    lives in exactly one batch, so cross-table duplicates of a pair
    never straddle batches), and keeps the top-k with the usual
    boundary-tie rule (every row ≥ the k-th score survives to the c_id
    tiebreak). The cut applies PER ARROW BATCH — the ranking window
    reduces across batches/partitions (finer local cuts stay correct),
    and peak memory is O(batch), never O(partition vectors).

    Scores are quantized to ``_SCORE_DECIMALS`` straight off the gemm
    (module-docstring contract) so this kernel and the task-merged
    default emit identical values for any block decomposition.

    NOT an entry-point kernel since round 10: per-batch emission
    buffers the full (tables × probing-queries × rows) triple set —
    ~110 GB per 64k-row Arrow batch at the sf100 census, OOM-killing
    the workers (SHUFFLE_r09.md). Retained as the semantic reference
    the property suite reduces ``_lsh_taskmerge_kernel`` against."""
    import numpy as np
    import pandas as pd

    def run(batches):
        q_ids, Qn, w_flat, n_tables, n_planes, tables = bc.value
        if len(q_ids) == 0:
            return
        nq = len(q_ids)
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(list(pdf["__v"]), dtype=np.float64)
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            bits = (M @ w_flat.T) >= 0  # sign rule ≡ hyperplane_sigs_df
            sigs = np.zeros((len(M), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for p in range(n_planes):
                    sigs[:, t] |= bits[:, t * n_planes + p].astype(np.int64) << p
            nrm = np.linalg.norm(M, axis=1)
            nrm[nrm == 0] = 1.0
            C = M / nrm[:, None]
            # gather (query, candidate, score) triples across tables as
            # flat arrays; per-bucket scoring stays a matmul. The
            # previous shape accumulated per-query PYTHON lists and
            # finished with an argpartition loop over every query —
            # fine at thousands of queries, hours at a corpus-scale
            # census (the same trap fixed in the ivf kernels).
            tri_q: list = []
            tri_c: list = []
            tri_s: list = []
            for t in range(n_tables):
                tbl = tables[t]
                col = sigs[:, t]
                uniq, inv = np.unique(col, return_inverse=True)
                for ui in range(len(uniq)):
                    qidx = tbl.get(int(uniq[ui]))
                    if qidx is None:
                        continue
                    rows = np.flatnonzero(inv == ui)
                    sims = np.round(C[rows] @ Qn[qidx].T, _SCORE_DECIMALS)
                    tri_q.append(np.repeat(np.asarray(qidx), len(rows)))
                    tri_c.append(np.tile(c_ids[rows], len(qidx)))
                    tri_s.append(sims.T.ravel())
            if tri_q:
                q = np.concatenate(tri_q)
                c = np.concatenate(tri_c)
                s = np.concatenate(tri_s)
                # cross-table dedup of (query, candidate): same pair in
                # several tables scores identically, keep one
                o = np.lexsort((c, q))
                q, c, s = q[o], c[o], s[o]
                first = np.r_[True, (q[1:] != q[:-1]) | (c[1:] != c[:-1])]
                q, c, s = q[first], c[first], s[first]
                # per-query (score DESC, id ASC) top-k in one pass:
                # rank-within-group on the fully ordered triples selects
                # exactly the rows the old threshold+tiebreak cut did
                o = np.lexsort((c, -s, q))
                q, c, s = q[o], c[o], s[o]
                starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
                grp = np.repeat(starts, np.diff(np.append(starts, len(q))))
                keep = (np.arange(len(q)) - grp) < top_n
                out_q = [np.asarray(q_ids, dtype=np.int64)[q[keep]]]
                out_c = [c[keep]]
                out_s = [s[keep]]
            else:
                out_q = []
                out_c = []
                out_s = []
            if out_q:
                yield pd.DataFrame(
                    {
                        "q_id": np.concatenate(out_q),
                        "c_id": np.concatenate(out_c),
                        "cosine": np.concatenate(out_s),
                    }
                )

    return run


def _lsh_taskmerge_kernel(bc, top_n: int, compact_rows: int = _POOL_COMPACT_ROWS):
    """mapInPandas kernel (the :func:`lsh_topk` default): per-table
    signatures + bucket scoring + ONE running per-query top-k pool for
    the whole task — the scale fix for ``_lsh_fused_kernel``, which
    buffers the full batch triple set (tables × probing-queries × rows)
    before compacting; at the sf100 census that is ~110 GB per 64k-row
    Arrow batch and the Python workers die on the allocation
    (SHUFFLE_r09.md).

    Three bounds replace the batch buffer:

    * per-(table, bucket) block cut — each scored block contributes at
      most |probing queries| × top_n rows (``_topk_select``, the exact
      per-block cut every kernel here shares);
    * a per-query score threshold — once a query's pool holds top_n
      candidates, its k-th score is a floor no later candidate may
      under-run (ties kept: ``>=``), so post-warmup blocks contribute
      little;
    * pool compaction past ``compact_rows``: dedup cross-table (q, c)
      repeats, cut to exact per-query top-k, refresh the thresholds.

    Scores are quantized to ``_SCORE_DECIMALS`` straight off each gemm
    — BEFORE the threshold, the block cut, and every pool cut — so the
    (score DESC, id ASC) order is a total order identical across block
    decompositions and the exact pool cuts are associative (the r9
    Hypothesis counterexample: an ulp-noise winner evicted the id-ASC
    tie winner permanently). The pool stores query INDICES (positions
    in the sorted q_ids / Qn), mapped to ids once at emission.
    """
    import numpy as np
    import pandas as pd

    def run(batches):
        q_ids, Qn, w_flat, n_tables, n_planes, tables = bc.value
        nq = len(q_ids)
        if nq == 0:
            return
        q_arr = np.asarray(q_ids, dtype=np.int64)
        acc_q: list = []
        acc_c: list = []
        acc_s: list = []
        pending = 0
        thr = np.full(nq, -np.inf)

        def compact():
            nonlocal pending
            q = np.concatenate(acc_q)
            c = np.concatenate(acc_c)
            s = np.concatenate(acc_s)
            q, c, s = _dedup_pool(q, c, s)
            q, c, s = _pool_topk(q, c, s, top_n)
            acc_q[:], acc_c[:], acc_s[:] = [q], [c], [s]
            pending = len(q)
            starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
            counts = np.diff(np.append(starts, len(q)))
            full = counts >= top_n
            thr[q[starts[full]]] = s[starts[full] + top_n - 1]

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(list(pdf["__v"]), dtype=np.float64)
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            bits = (M @ w_flat.T) >= 0  # sign rule ≡ hyperplane_sigs_df
            sigs = np.zeros((len(M), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for p in range(n_planes):
                    sigs[:, t] |= bits[:, t * n_planes + p].astype(np.int64) << p
            nrm = np.linalg.norm(M, axis=1)
            nrm[nrm == 0] = 1.0
            C = M / nrm[:, None]
            for t in range(n_tables):
                tbl = tables[t]
                col = sigs[:, t]
                uniq, inv = np.unique(col, return_inverse=True)
                for ui in range(len(uniq)):
                    qidx = tbl.get(int(uniq[ui]))
                    if qidx is None or not len(qidx):
                        continue
                    rows = np.flatnonzero(inv == ui)
                    ids_b = c_ids[rows]
                    Cb = C[rows]
                    top = min(top_n, len(rows))
                    qidx = np.asarray(qidx, dtype=np.int64)
                    chunk = max(1, _SCORE_CHUNK_ELEMS // len(rows))
                    for s0 in range(0, len(qidx), chunk):
                        qc = qidx[s0 : s0 + chunk]
                        sims = np.round(Cb @ Qn[qc].T, _SCORE_DECIMALS)
                        cols, rws = _topk_select(sims, ids_b, top)
                        sv = sims[rws, cols]
                        qi = qc[cols]
                        keep = sv >= thr[qi]
                        if not keep.any():
                            continue
                        acc_q.append(qi[keep])
                        acc_c.append(ids_b[rws[keep]])
                        acc_s.append(sv[keep])
                        pending += int(keep.sum())
                        if pending > compact_rows:
                            compact()
        if acc_q:
            compact()
            yield pd.DataFrame(
                {"q_id": q_arr[acc_q[0]], "c_id": acc_c[0], "cosine": acc_s[0]}
            )

    return run


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


def _ivf_fused_kernel(bc, top_n: int):
    """mapInPandas kernel: cell assignment + candidate scoring +
    per-(cell, query) partition-local top-k in ONE pass over the corpus.

    ``bc`` broadcasts ``(q_ids, Qn, cent, probing)`` — normalized query
    matrix, normalized centroid matrix, and ``probing[cell]`` = indices
    into ``Qn`` of the queries whose n_probe nearest cells include
    ``cell``. Each Arrow batch assigns its vectors to cells, scores
    every locally-present cell's block against only its probing
    queries, and keeps the block's top-k per query. A corpus vector
    belongs to exactly one cell (and one batch), so the union of
    winners is duplicate-free and any global top-k row survives its
    own (batch, cell) cut — same boundary-tie rule as
    :func:`_partition_topk_kernel` (every row ≥ the k-th score is kept
    before the c_id tiebreak cuts). Per-batch processing keeps peak
    memory at O(batch), never O(partition vectors).

    NOT an entry-point kernel since round 10: per-(batch, cell)
    emission hands ≈ queries × n_probe × k rows per task to the
    ranking exchange, whose map-side rank≤k prune sorted 4.8M rows per
    task at the sf100 census — 127 GB memory / 51 GB disk spill
    (SHUFFLE_r09.md). Retained as the semantic reference the property
    suite reduces ``_ivf_taskmerge_kernel`` against."""
    import numpy as np
    import pandas as pd

    def run(batches):
        q_ids, Qn, cent, probing = bc.value
        if len(q_ids) == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(list(pdf["__v"]), dtype=np.float64)
            nrm = np.linalg.norm(M, axis=1)
            nrm[nrm == 0] = 1.0
            C = M / nrm[:, None]
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            cells = np.argmax(C @ cent.T, axis=1)  # first max = lowest cell
            out_q, out_c, out_s = [], [], []
            for cell in np.unique(cells):
                qidx = probing[cell]
                if not len(qidx):
                    continue
                rows = np.flatnonzero(cells == cell)
                _block_topk_into(
                    C[rows], c_ids[rows], Qn, qidx, q_ids, top_n,
                    out_q, out_c, out_s,
                )
            if out_q:
                yield pd.DataFrame(
                    {
                        "q_id": np.concatenate(out_q),
                        "c_id": np.concatenate(out_c),
                        "cosine": np.concatenate(out_s),
                    }
                )

    return run


def _ivf_taskmerge_kernel(bc, top_n: int, compact_rows: int = _POOL_COMPACT_ROWS):
    """mapInPandas kernel (the :func:`ivf_topk` default): cell
    assignment + candidate scoring + ONE running per-query top-k pool
    for the whole task.

    Identical per-block scoring to ``_ivf_fused_kernel`` (it calls the
    same ``_block_topk_into``); the difference is that block winners
    accumulate into a task-wide pool that is compacted to exact
    per-query top-k whenever it exceeds ``compact_rows``, and the task
    emits a single Arrow batch of ≤ queries × top_n rows at the end
    instead of per-(batch, cell) frames — the sf100 pre-rank-sort
    spill fix, A/B'd at 1062 partitions to ZERO spill at equal wall
    (SHUFFLE_r09.md). Per-query top-k under (score DESC, id ASC) is
    associative across row subsets (a corpus vector lives in exactly
    one cell and one batch, so every pair is scored ONCE and the order
    is strict — no cross-shape tie hazard, unlike lsh), so the pool
    cut never drops a global winner; property-tested against the fused
    reference over random censuses, batch sizes, and compaction
    cadences.
    """
    import numpy as np
    import pandas as pd

    def run(batches):
        q_ids, Qn, cent, probing = bc.value
        if len(q_ids) == 0:
            return
        acc_q: list = []
        acc_c: list = []
        acc_s: list = []
        pending = 0

        def compact():
            nonlocal pending
            q = np.concatenate(acc_q)
            c = np.concatenate(acc_c)
            s = np.concatenate(acc_s)
            q, c, s = _pool_topk(q, c, s, top_n)
            acc_q[:], acc_c[:], acc_s[:] = [q], [c], [s]
            pending = len(q)

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(list(pdf["__v"]), dtype=np.float64)
            nrm = np.linalg.norm(M, axis=1)
            nrm[nrm == 0] = 1.0
            C = M / nrm[:, None]
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            cells = np.argmax(C @ cent.T, axis=1)  # first max = lowest cell
            before = len(acc_q)
            for cell in np.unique(cells):
                qidx = probing[cell]
                if not len(qidx):
                    continue
                rows = np.flatnonzero(cells == cell)
                _block_topk_into(
                    C[rows], c_ids[rows], Qn, qidx, q_ids, top_n,
                    acc_q, acc_c, acc_s,
                )
            pending += sum(len(a) for a in acc_q[before:])
            if pending > compact_rows:
                compact()
        if acc_q:
            compact()
            yield pd.DataFrame(
                {"q_id": acc_q[0], "c_id": acc_c[0], "cosine": acc_s[0]}
            )

    return run


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
    import numpy as np
    import pandas as pd

    from sdvg_spark.ops.dedup import bounded_local_vectors, widen

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
    _, cent = loc  # ids sorted ascending -> cell index = rank of id
    cnorm = np.linalg.norm(cent, axis=1)
    cnorm[cnorm == 0] = 1.0
    cent = cent / cnorm[:, None]
    spark = corpus.sparkSession

    # Queries are driver-bounded by contract (256 MB byte cap), so
    # collect them ONCE and derive the
    # probe assignment locally with the exact arithmetic of
    # _centroid_assign_kernel (float64 normalize, stable argsort); the
    # inverted cell→queries map then rides the broadcast into the fused
    # corpus pass.
    qloc = bounded_local_vectors(
        queries.select(F.col(query_id).alias("q_id"), F.col(query_vec).alias("__qv")),
        "q_id",
        "__qv",
        256_000_000,
        known_dims=cent.shape[1],  # single-job collect: dims known
    )
    if qloc is None:
        raise ValueError("query set exceeds max_query_bytes")
    q_ids, Q = qloc
    if len(q_ids) == 0:
        return spark.createDataFrame(
            [], "q_id long, c_id long, cosine double, rank int"
        )
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qn = Q / qn[:, None]
    order = np.argsort(-(Qn @ cent.T), axis=1, kind="stable")[:, :n_probe]
    probing = [np.flatnonzero((order == c).any(axis=1)) for c in range(len(cent))]
    bc = spark.sparkContext.broadcast((q_ids, Qn, cent, probing))

    part = (
        widen(corpus, min_bytes=4 << 20)
        .select(F.col(corpus_id).alias("c_id"), F.col(corpus_vec).alias("__v"))
        .mapInPandas(
            _ivf_taskmerge_kernel(bc, int(k)), "q_id long, c_id long, cosine double"
        )
    )
    final = part.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))),
    ).where(F.col("rank") <= k)
    return final.select("q_id", "c_id", "cosine", "rank")


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
    nrm = np.linalg.norm(M, axis=1)
    nrm[nrm == 0] = 1.0
    M = M / nrm[:, None]
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
    from the collected query matrix (same float64 normalize + stable
    argsort as :func:`_centroid_assign_kernel`) and pushed into the
    parquet scan as a partition filter, so unprobed cells are pruned
    before any bytes are read. Candidates come out of the scan WITH
    their vectors (the layout stores them; the quantized layout
    reconstructs code·scale inside the kernel), so scoring is the same
    normalized multiply-sum Arrow kernel as the other search paths — no
    corpus re-attach shuffle, no interpreted per-element cosine.
    """
    import numpy as np
    import pandas as pd

    from sdvg_spark.ops.dedup import bounded_local_vectors

    spark = queries.sparkSession
    cent = np.asarray(centroids, dtype=np.float64)
    qloc = bounded_local_vectors(
        queries.select(F.col(query_id).alias("q_id"), F.col(query_vec).alias("__qv")),
        "q_id",
        "__qv",
        256_000_000,
        known_dims=cent.shape[1],
    )
    if qloc is None:
        raise ValueError("query set exceeds max_query_bytes")
    q_ids, Q = qloc
    if len(q_ids) == 0:
        return spark.createDataFrame(
            [], "q_id long, c_id long, cosine double, rank int"
        )
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qn = Q / qn[:, None]
    # centroids arrive normalized from ivf_train_centroids; the stable
    # argsort mirrors the assignment kernel's tie rule (lowest cell)
    order = np.argsort(-(Qn @ cent.T), axis=1, kind="stable")[:, :n_probe]
    cells = sorted(int(c) for c in np.unique(order))
    # fused index-scan kernel (same shape as ivf_topk's): score each
    # pruned cell's block against only its probing queries and keep the
    # (batch, cell) top-k INSIDE the scan pass. The previous form
    # broadcast-joined a (q_id, cell) probe table onto the index —
    # materializing every (query, cell-row) candidate WITH its vector
    # (queries/n_cells × corpus rows) and scoring row-by-row; at the
    # sf10 scale point that stage spilled 2.5 GB. Now nothing is
    # joined: the exchange moves O(partitions × queries × k) rows.
    probing = [np.flatnonzero((order == c).any(axis=1)) for c in range(len(cent))]
    bcq = spark.sparkContext.broadcast((q_ids, Qn, probing))
    reader = spark.read if index_schema is None else spark.read.schema(index_schema)
    index = reader.parquet(path).where(F.col("cell").isin(cells))
    quantized = "qvec" in index.columns
    vec_cols = ["qvec", "scale"] if quantized else ["vec"]
    sel = index.select("c_id", "cell", *vec_cols)
    top_n = int(k)

    def run(batches):
        b_qids, b_Q, b_probing = bcq.value
        for pdf in batches:
            if not len(pdf):
                continue
            if quantized:
                M = np.array(list(pdf["qvec"]), dtype=np.float64)
                M *= pdf["scale"].to_numpy(dtype=np.float64)[:, None]
            else:
                M = np.array(list(pdf["vec"]), dtype=np.float64)
            nrm = np.linalg.norm(M, axis=1)
            nrm[nrm == 0] = 1.0
            C = M / nrm[:, None]
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            row_cells = pdf["cell"].to_numpy(dtype=np.int64)
            out_q, out_c, out_s = [], [], []
            for cell in np.unique(row_cells):
                qidx = b_probing[cell]
                if not len(qidx):
                    continue
                rows = np.flatnonzero(row_cells == cell)
                _block_topk_into(
                    C[rows], c_ids[rows], b_Q, qidx, b_qids, top_n,
                    out_q, out_c, out_s,
                )
            if out_q:
                yield pd.DataFrame(
                    {
                        "q_id": np.concatenate(out_q),
                        "c_id": np.concatenate(out_c),
                        "cosine": np.concatenate(out_s),
                    }
                )

    scored = sel.mapInPandas(run, "q_id long, c_id long, cosine double")
    final = scored.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))),
    ).where(F.col("rank") <= k)
    return final.select("q_id", "c_id", "cosine", "rank")


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

    from sdvg_spark.ops.dedup import bounded_local_vectors, widen
    from sdvg_spark.ops.vectors import Q_MAX

    spark = corpus.sparkSession
    loc = bounded_local_vectors(
        queries.select(F.col(query_id).alias("q_id"), F.col(query_vec).alias("__qv")),
        "q_id",
        "__qv",
        max_query_bytes,
        known_dims=dims,
    )
    if loc is None:
        raise ValueError("query set exceeds max_query_bytes")
    q_ids, q_mat = loc
    if len(q_ids) == 0:
        return spark.createDataFrame([], "q_id long, c_id long, cosine double, rank int")
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
    qn = np.linalg.norm(q_mat, axis=1)
    qn[qn == 0] = 1.0
    Qn = q_mat / qn[:, None]
    bc = spark.sparkContext.broadcast((q_ids, q_codes, q_cc, Qn))
    short_n = int(k * shortlist)

    part = (
        widen(corpus, min_bytes=4 << 20)
        .select(F.col(corpus_id).alias("c_id"), F.col(corpus_vec).alias("__v"))
        .mapInPandas(
            _quantized_fused_kernel(bc, short_n),
            "q_id long, c_id long, approx double, cosine double",
        )
    )
    shortlisted = part.withColumn(
        "srank",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("approx"), F.asc("c_id"))
        ),
    ).where(F.col("srank") <= short_n)
    final = shortlisted.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))),
    ).where(F.col("rank") <= k)
    return final.select("q_id", "c_id", "cosine", "rank")


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
