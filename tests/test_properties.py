"""Hypothesis property suite over the pure numpy kernels (no Spark).

The engine's correctness rests on a few bijections: the seeded
permutations (every row-id maps to a unique draw number) and the value
unrankings (every draw number maps to a unique value while the draw
space is not exhausted). The example-based tests pin specific configs;
these drive the same properties over sampled parameter space.
"""

from __future__ import annotations

import numpy as np
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from sdvg_spark.config.model import parse_config
from sdvg_spark.core.rng import frf_np, frf_scalar
from sdvg_spark.core.sequence import feistel_np, lfsr_walk
from sdvg_spark.engine import plan_column


@given(n=st.integers(2, 5000), seed=st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_feistel_is_bijective_for_any_domain(n, seed):
    out = feistel_np(np.arange(n, dtype=np.uint64), n, seed)
    assert len(out) == n
    assert sorted(int(v) for v in out) == list(range(n))


@given(n=st.integers(2, 4096), seed=st.integers(0, 2**31 - 1))
@settings(max_examples=20, deadline=None)
def test_lfsr_walk_is_a_permutation(n, seed):
    walk = lfsr_walk(n, seed)
    assert sorted(walk) == list(range(n))


@given(seed=st.integers(0, 2**63 - 1), n=st.integers(1, 4096))
@settings(max_examples=30, deadline=None)
def test_frf_unit_interval_and_scalar_parity(seed, n):
    x = (np.arange(n, dtype=np.uint64) + np.uint64(seed)) & np.uint64(2**64 - 1)
    v = frf_np(x)
    assert ((v >= 0.0) & (v < 1.0)).all()
    assert v[0] == frf_scalar(int(x[0]))


def _vgen(col_def: dict, rows: int = 500):
    cfg = parse_config(
        {
            "random_seed": 7,
            "models": {"m": {"rows_count": rows, "columns": [dict(col_def, name="c")]}},
        }
    )
    model = cfg.models["m"]
    plan = plan_column(cfg, model, model.column("c"))
    r = plan.ranges[0]
    return r.vgen


@given(min_len=st.integers(1, 6), extra=st.integers(0, 5))
@settings(max_examples=25, deadline=None)
def test_simple_string_unranking_injective(min_len, extra):
    vg = _vgen(
        {
            "type": "string",
            "type_params": {"min_length": min_len, "max_length": min_len + extra},
        }
    )
    n = int(min(vg.total, 300))
    vals = vg.np_value(np.arange(n, dtype=np.float64)).to_pylist()
    assert len(set(vals)) == n
    assert all(min_len <= len(v) <= min_len + extra for v in vals)


@given(
    tmpl=st.text(alphabet="Aa0#-.", min_size=1, max_size=8).filter(
        lambda t: any(ch in "Aa0#" for ch in t)
    )
)
@settings(max_examples=25, deadline=None)
def test_template_unranking_injective(tmpl):
    """Injectivity holds up to the TRUE slot-product space. Note the
    engine's values_count() mirrors the reference's ValuesCount
    (value/string.go:433-441), which SUMS the per-class powers instead
    of multiplying them — an overstated draw space the reference also
    has (bug-for-bug parity); ranks past the true space may repeat."""
    sizes = {"A": 26, "a": 26, "0": 10, "#": 23}
    true_space = 1.0
    for ch in tmpl:
        true_space *= sizes.get(ch, 1)
    vg = _vgen({"type": "string", "type_params": {"template": tmpl}})
    # when the overstated total exceeds the true space, consecutive
    # ranks necessarily collide (13 ranks into 10 digits) — engine and
    # reference alike; the injectivity contract applies below it
    assume(vg.total <= true_space)
    n = int(min(vg.total, 300))
    vals = vg.np_value(np.arange(n, dtype=np.float64)).to_pylist()
    assert len(set(vals)) == n
    assert all(len(v) == len(tmpl) for v in vals)


@given(min_len=st.integers(5, 20), extra=st.integers(3, 30))
@settings(max_examples=15, deadline=None)
def test_text_unranking_injective_and_bounded(min_len, extra):
    vg = _vgen(
        {
            "type": "string",
            "type_params": {
                "logical_type": "text",
                "min_length": min_len,
                "max_length": min_len + extra,
            },
        },
        rows=200,
    )
    n = int(min(vg.total, 200))
    vals = vg.np_value(np.arange(n, dtype=np.float64)).to_pylist()
    assert all(v for v in vals)  # every rank decodes
    assert len(set(vals)) == n
    # wantedLen = min + delimiter + num % (max-min+1) in the reference
    # (value/string.go:251), so the emitted text may legitimately reach
    # max_length + 1 characters — parity quirk, asserted as such
    assert all(len(v) <= min_len + extra + 1 for v in vals)


@given(rows=st.integers(2, 400))
@settings(max_examples=15, deadline=None)
def test_uuid_unranking_injective(rows):
    vg = _vgen({"type": "uuid"}, rows=rows)
    n = int(min(vg.total, rows))
    vals = vg.np_value(np.arange(n, dtype=np.float64)).to_pylist()
    assert len(set(vals)) == n


@given(
    st.lists(st.integers(min_value=0, max_value=2**15 - 1), min_size=2, max_size=40),
    st.integers(min_value=0, max_value=2**15 - 1),
    st.integers(min_value=1, max_value=2**15),
)
@settings(max_examples=200, deadline=None)
def test_normalized_key_is_order_preserving(vals, lo, width):
    """zorder's normalized key must preserve ordering for in-bounds
    values (equal inputs -> equal keys, v1 <= v2 -> key1 <= key2) and
    clamp out-of-bounds values instead of wrapping — pure-python mirror
    of the Column arithmetic (floor-scale + clamp on the same doubles).
    """
    hi = lo + width
    top = (1 << 16) - 1

    def key(v):
        scaled = (float(v) - float(lo)) * (top / (hi - lo))
        import math

        return min(max(int(math.floor(scaled)), 0), top)

    ks = [key(v) for v in vals]
    for (v1, k1) in zip(vals, ks):
        for (v2, k2) in zip(vals, ks):
            if v1 <= v2:
                assert k1 <= k2 or not (lo <= v1 <= hi and lo <= v2 <= hi)
    assert all(0 <= k <= top for k in ks)


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), max_size=6))
@settings(max_examples=100, deadline=None)
def test_pii_redaction_is_idempotent_on_placeholders(parts):
    """redact(redact(x)) == redact(x): placeholders contain no digits or
    @, so a second pass can never find new matches — the property that
    makes the scrub safe to re-run over partially-processed data.
    Checked in pure python with the same regexes Spark/DuckDB run."""
    import re

    from sdvg_spark.ops.text import PII_PATTERNS

    text = " ".join(parts) + " a@b.co 123-45-6789 +1 (415) 555-0199 10.0.0.1"

    def redact(s):
        for _, pat, repl in PII_PATTERNS:
            s = re.sub(pat, repl, s)
        return s

    once = redact(text)
    assert redact(once) == once


# ---------------------------------------------------------------------------
# funnel greedy-replay core (pure pandas — the kernel both streaming
# variants and the batch fold tier share semantics with)


@given(
    data=st.lists(
        st.tuples(st.integers(0, 40), st.sampled_from(["a", "b", "c", "x"])),
        min_size=0,
        max_size=60,
    ),
    steps=st.sampled_from([["a", "b"], ["a", "b", "c"], ["a", "a", "b"]]),
    window=st.sampled_from([None, 5, 15]),
)
@settings(max_examples=120, deadline=None)
def test_funnel_replay_equals_chain_and_composes(data, steps, window):
    """The greedy replay (streaming/ops.py:_funnel_replay) equals the
    per-step min-aggregation chain (the SQL-oracle semantics) on any
    event multiset — including ts ties and duplicate step types — and
    composes: replaying chronologically-partitioned batches one by one
    gives the same state as one shot."""
    import pandas as pd

    from sdvg_spark.streaming.ops import _funnel_replay

    k_n = len(steps)
    fi = [steps.index(steps[k]) for k in range(k_n)]
    first_index = {}
    for pos, s in enumerate(steps):
        first_index.setdefault(s, pos)
    w_us = None if window is None else window * 1_000_000

    def mkdf(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([t * 1_000_000 for t, _ in rows], unit="us"),
                "t": [ty for _, ty in rows],
            }
        )

    # brute-force chain: step_k = min ts of type steps[k-1] at/after
    # step_{k-1} (and <= step_1 + window for k >= 2)
    def chain(rows):
        out = [-1] * k_n
        for k in range(k_n):
            cands = [
                t * 1_000_000
                for t, ty in rows
                if ty == steps[k]
                and (k == 0 or (out[k - 1] != -1 and t * 1_000_000 >= out[k - 1]))
                and (
                    k == 0
                    or w_us is None
                    or (out[0] != -1 and t * 1_000_000 <= out[0] + w_us)
                )
            ]
            if k > 0 and out[k - 1] == -1:
                break
            if cands:
                out[k] = min(cands)
        return out

    one_shot = _funnel_replay(
        [-1] * k_n, mkdf(data), "ts", "t", first_index, fi, w_us
    )
    assert one_shot == chain(data)

    # composition: split the time-sorted stream at strict ts increases
    srt = sorted(data, key=lambda r: r[0])
    cut = len(srt) // 2
    while 0 < cut < len(srt) and srt[cut - 1][0] == srt[cut][0]:
        cut += 1  # never split a tie group across batches (in-order contract)
    state = [-1] * k_n
    for batch in (srt[:cut], srt[cut:]):
        if batch:
            state = _funnel_replay(
                state, mkdf(batch), "ts", "t", first_index, fi, w_us
            )
    assert state == one_shot


# --- task-merged ANN kernels (ops/similarity.py) -----------------------

def _pool_emission(kernel, C, c_ids, batch):
    """Run a task-merged kernel over the corpus in ``batch``-row frames
    (one task); its emission as [(q_id, c_id)], per query in (12-dp
    cosine DESC, id ASC) order."""
    import pandas as pd

    frames = list(
        kernel(
            pd.DataFrame({"c_id": c_ids[s : s + batch], "__v": list(C[s : s + batch])})
            for s in range(0, len(c_ids), batch)
        )
    )
    if not frames:
        return []
    df = pd.concat(frames, ignore_index=True)
    q = df["q_id"].to_numpy(np.int64)
    c = df["c_id"].to_numpy(np.int64)
    s = np.round(df["cosine"].to_numpy(np.float64), 12)
    o = np.lexsort((c, -s, q))
    return list(zip(q[o].tolist(), c[o].tolist()))


def _exact_topk(C, c_ids, Qn, q_ids, cand, top):
    """numpy brute force: each query's exact top-``top`` over its
    candidate rows ``cand[qi]`` (a boolean row mask) under (12-dp cosine
    DESC, id ASC). The corpus rows are unit-normalized here, as the
    kernels do."""
    Cn = C / np.linalg.norm(C, axis=1)[:, None]
    out = []
    for qi in range(len(q_ids)):
        rows = np.flatnonzero(cand[qi])
        sims = np.round(Cn[rows] @ Qn[qi], 12)
        o = np.lexsort((c_ids[rows], -sims))[:top]
        out += [(int(q_ids[qi]), int(cid)) for cid in c_ids[rows][o]]
    return out


@given(
    n=st.integers(20, 300),
    nq=st.integers(1, 12),
    dims=st.integers(2, 24),
    top=st.integers(1, 8),
    batch=st.integers(7, 97),
    compact=st.integers(4, 64),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_ivf_taskmerge_pool_is_exact_topk(n, nq, dims, top, batch, compact, seed):
    """For ANY corpus/query census, batch size, and compaction cadence,
    the merged ivf kernel's one-per-task emission is exactly each
    query's top-k over the cells it probes — the associativity the
    sf100 spill fix rests on."""
    from sdvg_spark.ops.similarity import _ivf_taskmerge_kernel

    rng = np.random.default_rng(seed)
    C = rng.normal(size=(n, dims))
    C /= np.maximum(np.linalg.norm(C, axis=1)[:, None], 1e-12)
    c_ids = rng.permutation(n).astype(np.int64) * 7 + 1
    n_cells = min(4, n)
    cent = C[:n_cells].copy()
    Qn = rng.normal(size=(nq, dims))
    Qn /= np.maximum(np.linalg.norm(Qn, axis=1)[:, None], 1e-12)
    q_ids = (np.arange(nq, dtype=np.int64) + 1) * 1000
    n_probe = max(1, n_cells - 1)
    order = np.argsort(-(Qn @ cent.T), axis=1, kind="stable")[:, :n_probe]
    probing = [np.flatnonzero((order == c).any(axis=1)) for c in range(n_cells)]

    class BC:
        value = (q_ids, Qn, cent, probing)

    cells = np.argmax((C / np.linalg.norm(C, axis=1)[:, None]) @ cent.T, axis=1)
    cand = [np.isin(cells, order[qi]) for qi in range(nq)]
    kernel = _ivf_taskmerge_kernel(BC(), top, compact_rows=compact)
    got = _pool_emission(kernel, C, c_ids, batch)
    assert got == _exact_topk(C, c_ids, Qn, q_ids, cand, top)


@given(
    n=st.integers(20, 250),
    nq=st.integers(1, 10),
    dims=st.integers(2, 16),
    top=st.integers(1, 6),
    n_planes=st.integers(1, 5),
    n_tables=st.integers(1, 5),
    batch=st.integers(7, 83),
    compact=st.integers(4, 48),
    seed=st.integers(0, 2**31 - 1),
)
@example(
    # the r9 falsifying example (verdict item 1): an ulp-noise winner
    # evicted the (score DESC, id ASC) tie winner from the pool
    # permanently before the in-kernel 12-dp quantization made ties
    # true ties — pinned explicitly so the regression outlives the
    # local .hypothesis database
    n=20, nq=3, dims=4, top=3, n_planes=4, n_tables=1,
    batch=7, compact=4, seed=7683,
)
@settings(max_examples=25, deadline=None)
def test_lsh_taskmerge_pool_is_exact_topk(
    n, nq, dims, top, n_planes, n_tables, batch, compact, seed
):
    """Same property for the lsh kernel, whose candidates are the union
    of each query's probed buckets over all tables: a pair colliding in
    several tables must count ONCE (dedup before every cut), and
    planted duplicate directions force such collisions and true ties."""
    from sdvg_spark.ops.similarity import _lsh_taskmerge_kernel, hyperplane_weights

    rng = np.random.default_rng(seed)
    C = rng.normal(size=(n, dims))
    C /= np.maximum(np.linalg.norm(C, axis=1)[:, None], 1e-12)
    C[-1] = C[0]  # exact duplicate direction -> all-table collisions
    c_ids = rng.permutation(n).astype(np.int64) * 3 + 2
    Q = rng.normal(size=(nq, dims))
    q_ids = (np.arange(nq, dtype=np.int64) + 1) * 100
    w_flat = hyperplane_weights(n_planes, n_tables, seed % 997, dims).reshape(
        n_tables * n_planes, dims
    )

    def sigs_of(M):
        bits = (M @ w_flat.T) >= 0
        sigs = np.zeros((len(M), n_tables), dtype=np.int64)
        for t in range(n_tables):
            for p in range(n_planes):
                sigs[:, t] |= bits[:, t * n_planes + p].astype(np.int64) << p
        return sigs

    qsigs, csigs = sigs_of(Q), sigs_of(C)
    flips = [0] + [1 << b for b in range(n_planes)]
    tables = []
    for t in range(n_tables):
        buckets: dict = {}
        for qi in range(nq):
            for fl in flips:
                buckets.setdefault(int(qsigs[qi, t]) ^ fl, []).append(qi)
        tables.append({s: np.array(v, dtype=np.int64) for s, v in buckets.items()})
    qn = np.maximum(np.linalg.norm(Q, axis=1), 1e-12)
    Qn = Q / qn[:, None]

    class BC:
        value = (q_ids, Qn, w_flat, n_tables, n_planes, tables)

    cand = [
        np.any(
            [np.isin(csigs[:, t], [int(qsigs[qi, t]) ^ fl for fl in flips])
             for t in range(n_tables)],
            axis=0,
        )
        for qi in range(nq)
    ]
    kernel = _lsh_taskmerge_kernel(BC(), top, compact_rows=compact)
    got = _pool_emission(kernel, C, c_ids, batch)
    assert got == _exact_topk(C, c_ids, Qn, q_ids, cand, top)
