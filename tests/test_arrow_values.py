"""Arrow forms of the value generators: the string-buffer builder, the
engine's null gate, the vectorized phone form against its DuckDB
mirror, the uuid and plain-string kernels against per-row references,
and the pickled size of a task's evaluator."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from sdvg_spark.config.model import StringParams
from sdvg_spark.engine import _null_gated
from sdvg_spark.generators import locales
from sdvg_spark.generators.values import GlyphTable, StringGen, glyph_strings


def _charset(locale: str, letters_only: bool = False) -> str:
    p = StringParams(locale=locale, without_numbers=letters_only, without_special_chars=letters_only)
    p.fill_defaults()
    return locales.charset_for(p)


@pytest.mark.parametrize(
    "chars",
    [_charset("en"), _charset("ru"), _charset("ru", letters_only=True), "ё-a"],
    ids=["en", "ru", "ru_letters", "mixed_widths"],
)
def test_glyph_strings_match_joined_python_strings(chars):
    rng = np.random.default_rng(len(chars))
    glyphs = GlyphTable(chars)
    n, L = 500, 9
    codes = rng.integers(0, len(chars), size=(n, L)).astype(glyphs.code_dtype)
    lengths = rng.integers(0, L + 1, size=n)
    lengths[:3] = [0, L, 1]
    got = glyph_strings(codes, glyphs, lengths)
    got.validate(full=True)
    want = pa.array(["".join(chars[c] for c in row[:k]) for row, k in zip(codes, lengths)])
    assert got.equals(want)
    full = glyph_strings(codes, glyphs)  # every row all L glyphs
    full.validate(full=True)
    assert full.equals(pa.array(["".join(chars[c] for c in row) for row in codes]))
    empty = glyph_strings(codes[:0], glyphs, lengths[:0])
    assert len(empty) == 0 and empty.type == pa.string()


@pytest.mark.parametrize("kind", ["none", "all", "mixed"])
def test_null_gate_matches_arrow_mask(kind):
    rng = np.random.default_rng(7)
    strings = ["".join("аб1"[i % 3] * (i % 5)) for i in range(300)]
    gate = {
        "none": np.zeros(300, dtype=bool),
        "all": np.ones(300, dtype=bool),
        "mixed": rng.random(300) < 0.3,
    }[kind]
    got = _null_gated(pa.array(strings), gate)
    got.validate(full=True)
    assert got.equals(pa.array(strings, type=pa.string(), mask=gate))
    # values that already hold nulls (an enum with a null literal) and
    # a sliced array keep both null sources
    ints = pa.array([None if i % 7 == 0 else i for i in range(310)]).slice(10)
    want = [None if g else v for v, g in zip(ints.to_pylist(), gate)]
    assert _null_gated(ints, gate).to_pylist() == want


def test_glyph_strings_offset_overflow_raises():
    """2^28 rows of 9 two-byte glyphs is over 2^31 bytes: the builder
    must refuse before it allocates, not wrap the int32 offsets. The
    code matrix is a broadcast view, so the test allocates nothing."""
    glyphs = GlyphTable(_charset("ru", letters_only=True))
    codes = np.broadcast_to(np.zeros((1, 9), dtype=glyphs.code_dtype), (1 << 28, 9))
    with pytest.raises(OverflowError, match="int32 string offsets"):
        glyph_strings(codes, glyphs)


@pytest.mark.parametrize("locale", ["en", "ru"])
def test_phone_matches_oracle_sql(locale):
    """The vectorized phone form equals its DuckDB mirror over 5000
    jittered ranks that reach every pattern."""
    p = StringParams(logical_type="phone", locale=locale)
    p.fill_defaults()
    vg = StringGen(p)
    n = 5000
    vg.set_total(n)
    number = np.arange(n, dtype=np.float64) + np.random.default_rng(1).random(n)
    number = np.minimum(number, np.nextafter(float(n), 0.0))
    got = vg.np_value(number).to_pylist()
    con = duckdb.connect()
    con.register("t", pa.table({"i": np.arange(n), "n": number}))
    want = [v for _, v in con.execute(f"SELECT i, {vg.sql('n')} FROM t ORDER BY i").fetchall()]
    assert got == want
    pats = vg.pack.phone_patterns_filtered()
    assert {len(v) for v in got} == {len(pat) for pat in pats}


def _uuid_py(number: float, total: int) -> str:
    """The reference uuid on Python floats, one value: 16 base-255
    digits of number/total, the RFC-4122 v4 and variant bits, then the
    8-4-4-4-12 hex form."""
    idx = number / float(total)
    digits = []
    for _ in range(16):
        x = 255.0 * idx
        d = math.floor(x)
        digits.append(d)
        idx = max(x - d, 0.0)
    digits[6] = (digits[6] & 0x0F) | 0x40
    digits[8] = (digits[8] & 0x3F) | 0x80
    h = bytes(digits).hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


@pytest.mark.parametrize("total", [1, 255, 255**3, 3_000_000, 2**53])
def test_uuid_matches_scalar_reference(total):
    """The uuid kernel (byte matrix, 4-digit table, 36-byte records)
    equals the per-row chain at the ends of the draw range, on draws
    where 255·idx lands on an integer, and on jittered draws."""
    from sdvg_spark.generators.values import UUIDGen

    gen = UUIDGen()
    gen.set_total(total)
    top = float(total - 1) + 0.9999999999999999
    exact = [k * total / 255.0 for k in range(255)]  # idx == k/255
    jittered = np.random.default_rng(total % 1000).random(300) * total
    number = np.array([0.0, top, float(total - 1), *exact, *jittered])
    got = gen.np_value(number)
    got.validate(full=True)
    assert got.to_pylist() == [_uuid_py(x, total) for x in number.tolist()]
    assert len(gen.np_value(number[:0])) == 0


def _simple_py(gen: StringGen, number: float) -> tuple[str, int]:
    """The reference plain-string unranking on Python floats, one
    value: the prefix-table walk, then the tail extension of a prefix
    shorter than min_length. Returns the string and the walk's depth."""
    p, cs = gen.p, gen.charset
    cbp, sbp = gen.count_by_prefix, gen.sum_by_prefix
    remain, chars, plen = float(number), [], 0
    for depth in range(p.max_length + 1):
        remain = remain - cbp[depth]
        nxt = sbp[depth + 1] if depth + 1 < len(sbp) else 0.0
        plen = depth
        if nxt == 0.0 or remain < 0 or depth >= p.max_length:
            break
        i = math.floor(remain / nxt)
        remain = remain - nxt * i
        chars.append(cs[min(i, len(cs) - 1)])
    if plen < p.min_length:
        num = int(number)
        dest = p.min_length + num % (p.max_length - p.min_length + 1)
        chars += [cs[(num + i * i) % len(cs)] for i in range(dest - plen)]
    return "".join(chars), plen


@pytest.mark.parametrize(
    "locale,min_len,max_len,total",
    [("en", 8, 8, 3_000_000), ("en", 2, 6, 50_000), ("ru", 3, 5, 20_000), ("en", 4, 6, 40)],
    ids=["fixed", "varied", "ru_varied", "short"],
)
def test_simple_strings_match_scalar_reference(locale, min_len, max_len, total):
    """The plain-string walk equals the per-row reference on the path
    where every row descends to the end (a fixed length), on the
    compressing path where rows stop at different depths, and on
    strings whose walk stops short of min_length (a quotient that rounds
    up to the next digit leaves a negative remainder) and which the
    tail extension fills."""
    p = StringParams(locale=locale, min_length=min_len, max_length=max_len)
    p.fill_defaults()
    gen = StringGen(p)
    gen.set_total(total)
    # just below a multiple of a prefix block: the walk's quotient can
    # round up there
    edges = [np.nextafter(k * gen.sum_by_prefix[d], 0.0) for d in (1, 2, 3) for k in range(1, 62)]
    rng = np.random.default_rng(min_len * 100 + max_len)
    number = np.concatenate([
        np.arange(min(total, 500), dtype=np.float64),
        rng.random(2000) * total,
        [x for x in edges if x < total],
        [float(total - 1) + 0.9999999999999999],
    ])
    got = gen.np_value(number)
    got.validate(full=True)
    want, depths = zip(*(_simple_py(gen, x) for x in number.tolist()))
    assert got.to_pylist() == list(want)
    assert {len(s) for s in want} <= set(range(min_len, max_len + 1))
    assert min(depths) < min_len  # some walks stop short and are extended
    if min_len < max_len:
        assert len(set(depths)) > 2  # rows stopped at different depths


def test_evaluator_pickles_small_and_round_trips():
    """A task's closure carries each string generator as its params and
    total, not its locale pack: the gen_devnull mix pickles to under
    32 KB, and round-tripped evaluators (ru names and text included)
    give the same batches."""
    import cloudpickle

    from perfbench.workloads import GEN_COLUMNS
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine, _make_evaluator

    def evaluator(columns, rows):
        cfg = parse_config({"random_seed": 3, "permutation": "feistel",
                            "models": {"m": {"rows_count": rows, "columns": columns}}})
        return _make_evaluator(Engine(cfg).plans_for(cfg.models["m"]))

    devnull = evaluator(GEN_COLUMNS, 3_000_000)
    assert len(cloudpickle.dumps(devnull)) < 32 << 10
    extra = [
        {"name": "ru_last", "type": "string", "type_params": {"logical_type": "last_name", "locale": "ru"}},
        {"name": "ru_first", "type": "string", "type_params": {"logical_type": "first_name", "locale": "ru"}},
        {"name": "ru_text", "type": "string",
         "type_params": {"logical_type": "text", "locale": "ru", "min_length": 5, "max_length": 40}},
        {"name": "en_text", "type": "string",
         "type_params": {"logical_type": "text", "min_length": 1, "max_length": 20}},
        {"name": "ru_s", "type": "string", "type_params": {"locale": "ru", "min_length": 2, "max_length": 6}},
        {"name": "tmpl", "type": "string", "type_params": {"locale": "ru", "template": "Aa-0#"}},
        {"name": "phone", "type": "string", "type_params": {"logical_type": "phone", "locale": "ru"}},
    ]
    ids = np.arange(1_000, 3_000, dtype=np.int64)
    for ev in (devnull, evaluator(GEN_COLUMNS + extra, 5_000)):
        back = cloudpickle.loads(cloudpickle.dumps(ev))
        for a, b in zip(ev(ids), back(ids)):
            assert a.equals(b)
