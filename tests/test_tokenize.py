"""Tokenizer goldens (SURVEY.md §5.2(1)): CJK, punctuation, empty, parity."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sync2any_spark.tokenize import DUCKDB_TOKEN_RE, tokenize, tokenize_series

GOLDEN = [
    ("Hello, World!", ["hello", "world"]),
    ("a  b\tc\nd", ["a", "b", "c", "d"]),
    ("中文测试", ["中", "文", "测", "试"]),
    ('{"status": "done", "n": 42}', ["status", "done", "n", "42"]),
    ("", []),
    (None, []),
    ("UPPER lower MiXeD", ["upper", "lower", "mixed"]),
    ("café", ["caf"]),  # accented letter is a separator (pinned behavior)
    ("x1y2z3", ["x1y2z3"]),
    ("こんにちは world", ["こ", "ん", "に", "ち", "は", "world"]),
]


@pytest.mark.parametrize("text,expected", GOLDEN)
def test_golden(text, expected):
    assert tokenize(text) == expected


def test_series_matches_scalar():
    texts = pd.Series([t for t, _ in GOLDEN])
    assert tokenize_series(texts) == [e for _, e in GOLDEN]


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_duckdb_parity(text):
    """The DuckDB RE2 spelling must tokenize identically to Python —
    this is what makes the driver's oracle_sql gate meaningful."""
    py = tokenize(text)
    dd = duckdb.sql(
        "select regexp_extract_all(lower(?), ?)", params=[text, DUCKDB_TOKEN_RE]
    ).fetchone()[0]
    assert py == dd


# ---------------------------------------------------------------------------
# round 6: byte-level vectorized analyzer ≡ regex analyzer
# ---------------------------------------------------------------------------

def _fast_tokens(texts):
    """tokenize_arrow_codes reconstructed to per-doc token lists (or None)."""
    import pyarrow as pa

    from sync2any_spark.tokenize import tokenize_arrow_codes

    r = tokenize_arrow_codes(pa.array(texts, pa.string(), from_pandas=True))
    if r is None:
        return None
    codes, dls, uniq = r
    out, i = [], 0
    for dl in dls:
        out.append([uniq[c] for c in codes[i : i + dl]])
        i += int(dl)
    return out


def test_arrow_codes_matches_regex_on_corpus():
    import pyarrow.parquet as pq

    from sync2any_spark.generator import ensure_transcripts

    t = pq.read_table(ensure_transcripts("sf0.001"), columns=["text"])
    texts = t.column("text").to_pylist()
    fast = _fast_tokens(texts)
    assert fast is not None, "bench corpus must take the byte-level fast path"
    assert fast == tokenize_series(texts)


def test_arrow_codes_unsafe_codepoints_fall_back():
    # the only BMP codepoints whose str.lower() introduces ASCII token
    # chars: 'İ' (U+0130 → 'i' + combining dot) and 'K' (U+212A → 'k')
    for ch in ("İ", "K"):
        assert _fast_tokens([f"ab {ch} cd"]) is None


def test_arrow_codes_bmp_equivalence_sampled():
    # every 7th BMP codepoint + both unsafe chars + CJK range boundaries:
    # wherever the fast path answers, it must agree with the regex path
    probes = list(range(0x20, 0x10000, 7))
    probes += [0x0130, 0x212A, 0x4E00, 0x9FFF, 0x3040, 0x30FF, 0xAC00,
               0xD7AF, 0x4DFF, 0xA000, 0x303F, 0x3100, 0xABFF, 0xD7B0]
    for cp in probes:
        if 0xD800 <= cp <= 0xDFFF:
            continue
        ch = chr(cp)
        txt = f"aB {ch} x9{ch}7 中{ch}"
        fast = _fast_tokens([txt, "", None])
        if fast is None:
            continue
        assert fast == [tokenize(txt), [], []], hex(cp)


@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("abczAZ019 .,{}\t\n丁一鿿あヿ각가힯İK\U0001F600Ａé")
            ),
            max_size=30,
        ),
        max_size=6,
    )
)
@settings(max_examples=150, deadline=None)
def test_arrow_codes_fuzz_matches_or_falls_back(docs):
    fast = _fast_tokens(docs)
    if fast is not None:
        assert fast == tokenize_series(docs)


def test_spimi_regex_fallback_rows_equal_fast_path(monkeypatch):
    """A span the byte-level tokenizer declines is encoded by the same SPIMI
    kernel from ``tokenize_series`` tokens: its chunk rows (positions
    included) equal the fast path's, field by field."""
    import numpy as np
    import pyarrow.parquet as pq

    import sync2any_spark.tokenize as tok
    from sync2any_spark.generator import ensure_transcripts
    from sync2any_spark.index.builder import _spimi_rows_for_texts

    texts = pq.read_table(ensure_transcripts("sf0.001"), columns=["text"])
    texts = texts.column("text").to_pylist()[:400] + ["", None, "ok ok ok 中文"]
    ids = np.arange(len(texts), dtype=np.int64) * 3 + 7
    fast = _spimi_rows_for_texts(5, ids, texts, store_positions=True)
    monkeypatch.setattr(tok, "tokenize_arrow_codes", lambda col: None)
    slow = _spimi_rows_for_texts(5, ids, texts, store_positions=True)
    assert fast[1] == slow[1] > 0
    assert np.array_equal(fast[2], slow[2])
    assert fast[0].keys() == slow[0].keys()
    for col in fast[0]:
        a, b = fast[0][col], slow[0][col]
        assert len(a) == len(b), col
        assert all(x == y for x, y in zip(a, b)), col
