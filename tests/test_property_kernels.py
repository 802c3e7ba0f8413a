"""Hypothesis property tests for the text kernels: invariants that must
hold for arbitrary input, not just fixtures."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from barks_ocr_spark.kernels import textnorm as tn
from reference_forms import has_rejected_token_py

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)


@settings(max_examples=200, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=20))
def test_repair_linebreaks_idempotent_and_clean(texts):
    s = pd.Series(texts)
    once = tn.repair_linebreaks(s)
    twice = tn.repair_linebreaks(once)
    assert once.tolist() == twice.tolist()  # idempotent
    for v in once:
        assert "\n" not in v and "­" not in v
        assert "  " not in v
        assert v == v.strip()


@settings(max_examples=200, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=20))
def test_curlify_idempotent_preserves_length(texts):
    s = pd.Series(texts)
    once = tn.curlify(s)
    twice = tn.curlify(once)
    assert once.tolist() == twice.tolist()
    for orig, out in zip(texts, once):
        assert len(out) == len(orig)  # 1:1 char replacement
        assert "'" not in out and '"' not in out  # no straight quotes left


@settings(max_examples=200, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=20))
def test_tokenize_never_emits_stopwords_or_empties(texts):
    toks = tn.tokenize_for_index(pd.Series(texts))
    for ts in toks:
        for t in ts:
            assert t != ""
            assert t not in tn.ALL_WORDS_TO_IGNORE
            assert t == t.lower()


@settings(max_examples=100, deadline=None)
@given(text_st, text_st)
def test_merge_join_contains_both_sides(a, b):
    a2, b2 = a.strip(), b.strip()
    out = tn.merge_join(pd.Series([a]), pd.Series([b])).iloc[0]
    assert b2.lstrip() in out or b.lstrip() in out


@settings(max_examples=200, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=20))
def test_comparison_key_invariants(texts):
    s = pd.Series(texts)
    # hyphen→em-dash substitution and surrounding whitespace must not
    # change the comparison key (the whole point of T6/T7 folding)
    spaced = s.map(lambda t: "  " + t.replace("-", "—") + " ")
    assert tn.comparison_key(s).tolist() == tn.comparison_key(spaced).tolist()
    for v in tn.comparison_key(s):
        assert " " not in v and "—" not in v and v == v.lower()


def test_rejected_token_regex_parity():
    """The vectorized rejected-token regex must equal the reference-
    literal per-token implementation on adversarial shapes."""
    import pandas as pd

    from barks_ocr_spark.kernels import textnorm as tn

    cases = pd.Series(
        [
            "W", " W", "W ", "a W b", "aW", "Wa", "w", "oo", "OO VV", "OO.",
            "f", "F.", "x | y", "x|y", "a \\ b", "a\\b", "IY \\", "\tW",
            "a \nW b", "a \nW\t b", "word", "", "  ", "L", "hello L",
            "W W", "double  space W", "iy", "Iy", "oO", "a­W",
        ]
    )
    fast = tn.has_rejected_token(cases)
    slow = has_rejected_token_py(cases)
    assert fast.tolist() == slow.tolist()
