"""Arrow forms of the value generators: the string-buffer builder, the
engine's null gate, and the vectorized phone form against its DuckDB
mirror."""

from __future__ import annotations

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
