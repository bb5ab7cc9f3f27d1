"""Property-based tests (hypothesis) for the pure-Python compile layers —
no SparkSession needed, so these run in milliseconds and explore corners
the example-based suites don't."""

from __future__ import annotations

import re
import os
import sys

from hypothesis import given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.operators import grok, ottl  # noqa: E402

IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
SAFE_STR = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127),
    max_size=20,
)


@given(name=IDENT, value=SAFE_STR)
@settings(max_examples=50, deadline=None)
def test_ottl_set_statement_always_parses(name, value):
    st_ = ottl.compile_statement(f"set({name}, '{value}')")
    assert st_.editor.name == "set"
    assert st_.where is None


@given(field=IDENT, key=SAFE_STR)
@settings(max_examples=50, deadline=None)
def test_ottl_bracket_paths_roundtrip(field, key):
    stmt = ottl.compile_statement(f'set(attributes["{key or "k"}"], {field})')
    target = stmt.editor.args[0]
    assert target.parts[-1] == (key or "k")


@given(n=st.integers(min_value=-999999, max_value=999999))
@settings(max_examples=50, deadline=None)
def test_ottl_integer_literals(n):
    stmt = ottl.compile_statement(f"set(x, {n})")
    assert stmt.editor.args[1].value == n


@given(parts=st.lists(st.sampled_from(sorted(grok.GROK_PATTERNS)), min_size=1, max_size=4))
@settings(max_examples=50, deadline=None)
def test_grok_expansion_always_compiles(parts):
    pattern = " ".join(f"%{{{p}:f{i}}}" for i, p in enumerate(parts))
    rx = grok.grok_to_regex(pattern)
    compiled = re.compile(rx)  # every expansion is a valid Python regex
    assert set(compiled.groupindex) == {f"f{i}" for i in range(len(parts))}


@given(
    text=st.text(alphabet="ab% {}:", max_size=30).filter(lambda s: "%{" not in s)
)
@settings(max_examples=50, deadline=None)
def test_grok_literal_text_passthrough(text):
    # text with no %{...} references expands to itself
    assert grok.grok_to_regex(text) == text


# ---------------------------------------------------------------------------
# round-2 pure-Python layers: murmur3/fnv vs reference algorithms, gotime
# translation totality
# ---------------------------------------------------------------------------

from opentelemetry_collector_contrib_spark.operators import parsers  # noqa: E402
from opentelemetry_collector_contrib_spark.operators.udf_converters import (  # noqa: E402
    mmh3_x64_128,
)


@given(data=st.binary(max_size=64))
@settings(max_examples=100, deadline=None)
def test_murmur3_reference_identities(data):
    h1, h2 = mmh3_x64_128(data)
    assert 0 <= h1 < 2**64 and 0 <= h2 < 2**64
    # deterministic and length-sensitive (appending a byte changes it)
    assert (h1, h2) == mmh3_x64_128(data)
    if data:
        assert (h1, h2) != mmh3_x64_128(data + b"\x00")


@given(layout=st.text(alphabet="20061545 -/:.TZJanMonPM", max_size=16))
@settings(max_examples=100, deadline=None)
def test_gotime_translation_total(layout):
    # translation must never raise and must quote all residual letters
    out = parsers.gotime_to_java(layout)
    # any unquoted letters must come from the known Java tokens
    bare = re.sub(r"'[^']*'", "", out)
    assert re.fullmatch(r"[yMdHhmsSEXaz \-/:.0-9]*", bare), (layout, out)


from opentelemetry_collector_contrib_spark.operators.udf_converters import (  # noqa: E402
    _mmh3_128_batch,
    _mmh3_32_batch,
    mmh3_x86_32,
)


@given(data=st.lists(st.binary(max_size=40), min_size=1, max_size=16))
@settings(max_examples=60, deadline=None)
def test_murmur3_batch_matches_scalar(data):
    """The numpy-vectorized batch kernels must agree byte-for-byte with
    the scalar public-domain reference implementations across block
    boundaries and every tail length."""
    h = _mmh3_32_batch(data)
    for i, b in enumerate(data):
        assert int(h[i]) == mmh3_x86_32(b), b
    h1, h2 = _mmh3_128_batch(data)
    for i, b in enumerate(data):
        assert (int(h1[i]), int(h2[i])) == mmh3_x64_128(b), b


def test_murmur3_chunked_budget_parity():
    """The length-chunked driver (memory cap against one long outlier)
    must produce identical results to a single full-matrix pass."""
    from opentelemetry_collector_contrib_spark.operators import udf_converters as u

    data = [b"x" * ln for ln in (0, 3, 5000, 17, 64, 1, 100_000, 9)]
    old = u._PAD_MATRIX_BUDGET
    try:
        u._PAD_MATRIX_BUDGET = 4096  # force many chunks
        h32 = u._chunked_by_length(data, u._mmh3_32_batch, 1)
        h1, h2 = u._chunked_by_length(data, u._mmh3_128_batch, 2)
        hf = u._chunked_by_length(data, u._fnv64a_batch, 1)
    finally:
        u._PAD_MATRIX_BUDGET = old
    for i, b in enumerate(data):
        assert int(h32[i]) == mmh3_x86_32(b)
        assert (int(h1[i]), int(h2[i])) == mmh3_x64_128(b)
    assert int(hf[3]) == int(u._fnv64a_batch([data[3]])[0])
