"""Deterministic sequencers: how a row index becomes a draw number.

The reference engine walks a Galois LFSR sequentially (a stateful
generator; semantics at /root/reference .../generator/utils.go:92-167).
A sequential walk cannot be distributed, so this engine exposes the same
contract — a seeded bijective "shuffle" of ``[0, n)`` that cycles — as a
*pure function* of the row index, in two tiers:

* **lfsr** (parity tier): the LFSR period is computed with the same
  primitive polynomials by the process that reads it, once (numpy
  lanes, ``lfsr_walk``: uint32, 4 B a row, a 256-key LRU per process),
  then indexed and widened to uint64. Bit-exact with the reference
  walk, capped at 1<<22 rows.
* **feistel** (scale tier): a 4-round alternating-unbalanced Feistel
  network over exactly ``ceil(log2 n)`` bits with cycle-walking, keyed
  by the same seed. A jump-free bijection with identical guarantees
  (uniqueness up to n, seedability, O(1) random access) that works at
  any n — this is the 100 TB path. Values differ from the Go walk;
  properties do not. (The unbalanced split is the FF1-style shape: the
  network's domain is 2^ceil(log2 n) < 2n for every n, so cycle-walking
  rejects < 1/2 per pass — the earlier balanced network rounded odd bit
  counts UP, giving a < 4n domain whose ~70% rejection at e.g. n=20M
  tripled the kernel cost.) While both halves are at most 16 bits
  (n <= 2^32) each round is a gather from a per-key table of its
  masked SplitMix outputs (``_round_tables``: uint16, at most 512 KB a
  key, a 64-key LRU per process, so at most 32 MB); wider halves
  compute the round per row. A domain of at most 2^16 reads the whole
  cycle-walked permutation from a table the network made
  (``_perm_table``: uint16, at most 128 KB a key, a 256-key LRU, so at
  most 32 MB).

Both are exposed through ``perm_np(idx, n, seed, mode)``; the *ordered*
sequencer (a monotone step function) is pure arithmetic (``ordered_np``,
mirrored in DuckDB SQL by ``ordered_sql``).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from sdvg_spark.core.rng import MASK64, splitmix64_np, dlit

# Primitive polynomials (Galois LFSR taps) for register sizes 1..64.
# These are standard published maximal-length LFSR polynomials (the same
# public table the reference uses; see e.g. Xilinx XAPP052).
PRIMITIVE_POLYNOMIALS: dict[int, int] = {
    1: 0x1, 2: 0x3, 3: 0x6, 4: 0xC, 5: 0x14, 6: 0x30, 7: 0x60, 8: 0xB8,
    9: 0x110, 10: 0x240, 11: 0x500, 12: 0x829, 13: 0x100D, 14: 0x2015,
    15: 0x6000, 16: 0xD008, 17: 0x12000, 18: 0x20400, 19: 0x40023,
    20: 0x90000, 21: 0x140000, 22: 0x300000, 23: 0x420000, 24: 0xE10000,
    25: 0x1200000, 26: 0x2000023, 27: 0x4000013, 28: 0x9000000,
    29: 0x14000000, 30: 0x20000029, 31: 0x48000000, 32: 0x80200003,
    33: 0x100080000, 34: 0x204000003, 35: 0x500000000, 36: 0x801000000,
    37: 0x100000001F, 38: 0x2000000031, 39: 0x4400000000,
    40: 0xA000140000, 41: 0x12000000000, 42: 0x300000C0000,
    43: 0x63000000000, 44: 0xC0000030000, 45: 0x1B0000000000,
    46: 0x300003000000, 47: 0x420000000000, 48: 0xC00000180000,
    49: 0x1008000000000, 50: 0x3000000C00000, 51: 0x6000C00000000,
    52: 0x9000000000000, 53: 0x18003000000000, 54: 0x30000000030000,
    55: 0x40000040000000, 56: 0xC0000600000000, 57: 0x102000000000000,
    58: 0x200004000000000, 59: 0x600003000000000, 60: 0xC00000000000000,
    61: 0x1800300000000000, 62: 0x3000000000000030,
    63: 0x6000000000000000, 64: 0xD800000000000000,
}

# Above this domain size the parity-tier table is refused and the Feistel
# permutation is used instead ('auto' mode).
LFSR_TABLE_CAP = 1 << 22


@lru_cache(maxsize=256)
def lfsr_walk(distinct: int, seed: int) -> np.ndarray:
    """The full filtered LFSR period: ``distinct`` values, each of
    ``[0, distinct)`` exactly once, in walk order.

    Walk semantics mirror the reference sequencer: states > distinct are
    skipped; emitted value is ``state - 1``. The k-th sequencer pull is
    ``walk[k % distinct]`` (the reference's explicit cycle reset is a
    no-op given the period — see tests).

    The Galois step is linear over GF(2): ``lanes`` lanes start at s0,
    A^m s0, A^2m s0, ... (A^m's columns: the unit vectors after ``m``
    steps) and step ``m`` times at once; read lane by lane they are the
    period s1, s2, ... The table is uint32 (every value is below
    ``LFSR_TABLE_CAP``) and read-only: tasks share it.
    """
    if distinct > LFSR_TABLE_CAP:
        raise ValueError(
            f"LFSR parity table for n={distinct} exceeds cap {LFSR_TABLE_CAP}; "
            "use feistel mode"
        )
    if distinct <= 1:
        out = np.zeros(max(distinct, 0), dtype=np.uint32)
    else:
        bits = distinct.bit_length()
        period = (1 << bits) - 1  # a maximal register visits each nonzero state once
        state = seed & period or (1 << (bits - 1)) | 1
        poly = np.uint32(PRIMITIVE_POLYNOMIALS[bits])
        m = 1 << (bits + 1) // 2
        lanes = -(-period // m)

        def walk(s: np.ndarray, rows: np.ndarray) -> np.ndarray:
            for row in rows:  # row i: every lane after i + 1 steps
                np.bitwise_xor(s >> 1, (s & 1) * poly, out=row)
                s = row
            return rows

        units = np.uint32(1) << np.arange(bits, dtype=np.uint32)
        jump = walk(units, np.empty((m, bits), dtype=np.uint32))[-1]
        starts = np.empty(lanes, dtype=np.uint32)
        for j in range(lanes):
            starts[j] = state
            state = int(np.bitwise_xor.reduce(jump[state & units != 0]))
        states = walk(starts, np.empty((m, lanes), dtype=np.uint32)).T.ravel()[:period]
        out = states[states <= distinct]
        out -= np.uint32(1)
    out.setflags(write=False)
    return out


# ---------------------------------------------------------------------------
# Feistel permutation (scale tier)


def _feistel_round(r: np.ndarray, rnd: int, seed: int, half_bits: int) -> np.ndarray:
    x = r ^ np.uint64((seed + 0x9E3779B97F4A7C15 * (rnd + 1)) & MASK64)
    return splitmix64_np(x) & np.uint64((1 << half_bits) - 1)


# Widest half whose round functions are tabulated: a 16-bit half has at
# most 65,536 distinct inputs, so a round is one uint16 gather instead of
# a 9-step SplitMix per row. Covers every n <= 2^32.
_TABLE_HALF_BITS = 16
_ROUND_TABLES_MAX = 64


@lru_cache(maxsize=_ROUND_TABLES_MAX)
def _round_tables(seed: int, h_l: int, h_r: int, rounds: int = 4) -> tuple[np.ndarray, ...]:
    """Round ``rnd``'s keyed function tabulated over every input of its
    source half: ``tabs[rnd][v] == _feistel_round(v, rnd, seed, dst)``
    (even rounds map the right half to ``h_l`` bits, odd rounds the left
    half to ``h_r`` bits).

    Both halves are at most 16 bits, so a table has at most 2^16 uint16
    entries (128 KB) and one key at most 4 x 128 KB = 512 KB; the
    ``_ROUND_TABLES_MAX`` cache slots bound a worker at 32 MB.
    """
    tabs = []
    for rnd in range(rounds):
        src, dst = (h_r, h_l) if rnd % 2 == 0 else (h_l, h_r)
        v = np.arange(1 << src, dtype=np.uint64)
        tab = _feistel_round(v, rnd, seed, dst).astype(np.uint16)
        tab.setflags(write=False)
        tabs.append(tab)
    return tuple(tabs)


# Widest domain whose whole permutation is tabulated: at most 2^16
# uint16 entries (128 KB) a key, a 256-key LRU per process, so at most
# 32 MB. A gather costs ~2 ns a row against ~12-25 ns for the network
# and its cycle walk at these sizes.
_PERM_TABLE_MAX_N = 1 << 16
_PERM_TABLES_MAX = 256


@lru_cache(maxsize=_PERM_TABLES_MAX)
def _perm_table(n: int, seed: int, rounds: int) -> np.ndarray:
    """``_feistel_net`` over all of ``[0, n)``: the table is made by the
    network itself, so a gather from it gives the same values."""
    tab = _feistel_net(np.arange(n, dtype=np.uint64), n, seed, rounds).astype(np.uint16)
    tab.setflags(write=False)
    return tab


def feistel_np(idx: np.ndarray, n: int, seed: int, rounds: int = 4) -> np.ndarray:
    """Seeded bijection of [0, n) evaluated at ``idx`` (uint64 array of
    values in ``[0, n)``): :func:`_feistel_net`, read from a table of
    the whole permutation (:func:`_perm_table`) when n <= 2^16."""
    if n <= 1:
        return np.zeros(len(idx), dtype=np.uint64)
    if n <= _PERM_TABLE_MAX_N:
        at = np.asarray(idx, dtype=np.uint64).view(np.int64)
        return _perm_table(n, seed, rounds).take(at).astype(np.uint64)
    return _feistel_net(idx, n, seed, rounds)


def _feistel_net(idx: np.ndarray, n: int, seed: int, rounds: int = 4) -> np.ndarray:
    """Seeded bijection of [0, n) evaluated at ``idx`` (uint64 array).

    Alternating-unbalanced Feistel (the FF1/FFX shape) over EXACTLY
    ``total_bits = ceil(log2 n)`` bits: the value splits into an
    ``h_l``-bit left and ``h_r``-bit right half (h_l + h_r =
    total_bits, h_r = h_l or h_l + 1), and each round XORs ONE half
    with the keyed round function of the other — even rounds modify
    the left, odd the right; no swap, so unequal widths are fine and
    each round is trivially invertible. Out-of-domain outputs
    cycle-walk back through the network.

    Why unbalanced: a balanced network needs an even bit count, and
    rounding an odd ``total_bits`` up doubles the domain to < 4n —
    cycle-walking then rejects up to ~75% per pass (measured ~70% at
    n=20M: expected ~3.3 network passes per element, tripling the
    kernel). The exact-width domain is < 2n for every n, so rejection
    is < 1/2 and the expected pass count is < 2 (0 when n is a power
    of two).

    When both halves are at most 16 bits (n <= 2^32) each round is a
    gather from :func:`_round_tables`; wider halves compute the round
    function per row. Both give the same values.
    """
    total_bits = max((n - 1).bit_length(), 2)
    h_l = total_bits // 2
    h_r = total_bits - h_l
    m_l, m_r = (1 << h_l) - 1, (1 << h_r) - 1

    if h_r <= _TABLE_HALF_BITS:
        tabs = _round_tables(seed, h_l, h_r, rounds)

        def apply_net(x: np.ndarray) -> np.ndarray:
            # int64 halves: ``take`` gathers with them without an index cast
            x = x.view(np.int64)
            left = (x >> h_r) & m_l
            right = x & m_r
            for rnd, tab in enumerate(tabs):
                if rnd % 2 == 0:
                    left ^= tab.take(right)
                else:
                    right ^= tab.take(left)
            left <<= h_r
            left |= right
            return left.view(np.uint64)

    else:
        uh_r, mask_l, mask_r = np.uint64(h_r), np.uint64(m_l), np.uint64(m_r)

        def apply_net(x: np.ndarray) -> np.ndarray:
            left = (x >> uh_r) & mask_l
            right = x & mask_r
            for rnd in range(rounds):
                if rnd % 2 == 0:
                    left = left ^ _feistel_round(right, rnd, seed, h_l)
                else:
                    right = right ^ _feistel_round(left, rnd, seed, h_r)
            return (left << uh_r) | right

    un = np.uint64(n)
    y = apply_net(np.asarray(idx, dtype=np.uint64))
    # Cycle-walking: the network permutes [0, 2^total_bits) with
    # 2^total_bits < 2n, so each walk step keeps < 1/2 of the
    # stragglers; expected depth < 2. The straggler index list shrinks
    # with them, so a pass costs only its stragglers.
    todo = np.flatnonzero(y >= un)
    while len(todo):
        z = apply_net(y[todo])
        y[todo] = z
        todo = todo[z >= un]
    return y


def mod_np(k: np.ndarray, n: int) -> np.ndarray:
    """``k mod n`` over a uint64 array, or ``k`` itself when its max is
    already below ``n``: the max is one cheap pass, a uint64 ``%`` about
    ten times dearer, and a batch of in-domain ids (a model's own row
    ids, a draw number in its own range) needs none."""
    k = np.asarray(k, dtype=np.uint64)
    if len(k) and int(k.max()) >= n:
        return k % np.uint64(n)
    return k


def perm_np(idx: np.ndarray, n: int, seed: int, mode: str) -> np.ndarray:
    """num = permutation(idx mod n); the distributed LFSR-sequencer
    equivalent. ``mode`` in {'lfsr', 'feistel', 'auto'}.

    The ``mod`` is :func:`mod_np`: skipped when every id of the batch
    is already in ``[0, n)``, so only ids past the domain (an ordered FK
    child larger than its parent, streaming ids) pay for it."""
    if n <= 0:
        return np.zeros(len(idx), dtype=np.uint64)
    k = mod_np(idx, n)
    mode = resolve_mode(n, mode)
    if mode == "lfsr":
        return lfsr_walk(n, seed).take(k.view(np.int64)).astype(np.uint64)
    if mode == "feistel":
        return feistel_np(k, n, seed)
    raise ValueError(f"unknown permutation mode: {mode}")


def resolve_mode(n: int, mode: str) -> str:
    """The tier of a domain of ``n``: 'auto' is the parity table up to
    ``LFSR_TABLE_CAP`` and feistel above; any other mode stays."""
    if mode == "auto":
        return "lfsr" if n <= LFSR_TABLE_CAP else "feistel"
    return mode


def range_perm_mode(col_mode: str, distinct: int) -> str:
    """Permutation tier for ONE range's draw sequencer.

    The column tier is resolved from the column-sequencer domain, but a
    range's domain is its own ``distinct`` — a small child model whose
    FK references a >cap parent must not try to build a parity table for
    the parent-sized range (it would raise); that range alone falls back
    to feistel. Both the engine kernel and the DuckDB oracle route
    through this function so the tiers can never disagree.
    """
    if col_mode == "lfsr" and distinct <= LFSR_TABLE_CAP:
        return "lfsr"
    return "feistel"


# ---------------------------------------------------------------------------
# Ordered sequencer


def ordered_np(k: np.ndarray, distinct: int, cycle: int) -> np.ndarray:
    """Monotone step sequencer: floor(k * distinct / cycle), k mod cycle
    (:func:`mod_np`, skipped when the batch is inside one cycle)."""
    kk = mod_np(k, max(cycle, 1))
    res = kk.astype(np.float64) * np.float64(distinct) / np.float64(max(cycle, 1))
    return res.astype(np.uint64)


def ordered_sql(k_expr: str, distinct: int, cycle: int) -> str:
    """DuckDB mirror of the ordered sequencer."""
    cyc = max(cycle, 1)
    return (
        f"CAST(trunc((({k_expr}) % {cyc})::DOUBLE * {dlit(distinct)} "
        f"/ {dlit(cyc)}) AS BIGINT)"
    )
