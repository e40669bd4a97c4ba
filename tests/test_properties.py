"""Property-based invariants (hypothesis).

* Preprocessing STABILIZES after one application: the reference applies
  preprocess twice on its uncached path (name_matcher.py:705,728), so
  what parity needs is f(f(x)) == f(x) for every x that is itself an
  f-output.  True first-application idempotence does NOT hold in the
  reference either: the ascii stage can leave a trailing space (dropped
  non-ascii char) that blocks an endswith legal rule which then fires on
  the cleaned second pass (e.g. '0:Ec:ſ').
* Metrics map into [0, 1] -- except typo, whose reference normalizer
  max(len*del, len*ins) lets dist exceed 1 when the keyboard-distance
  substitution beats it (sim goes negative in the reference too), and the
  chi-squared family, whose self-sim < 1 by the reference's own goldens.
* Batch kernels equal scalar kernels on arbitrary unicode.
* strip_words' fast path equals removing every word in turn.
"""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from name_matching_spark.nm_core import metrics as M
from name_matching_spark.nm_core import metrics_batch as MB
from name_matching_spark.nm_core.preprocess import (
    PreprocessConfig,
    legal_word_set,
    light_preprocess_name,
    pipeline_preprocess_name,
    preprocess_name,
    strip_words,
)

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)
WORDS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz -&#", max_size=40)

# delete_legal is deliberately NOT here: begin-anchored deletion strips at
# most one stacked leading legal token per full pass (the deleted token
# leaves a leading space that blocks later rules in the same pass), so NO
# finite composition stabilizes on arbitrarily stacked tokens ('ß'->'ss'
# stacks: 'ß:ß:ß:ß:ß#' needs 5 passes).  The reference has the identical
# behavior and simply applies preprocess twice (name_matcher.py:705,728);
# parity is covered by test_delete_legal_* below.
CFGS = [
    PreprocessConfig(),
    PreprocessConfig(preprocess_legal=True),
    PreprocessConfig(make_abbreviations=False),
]

DELETE_CFG = PreprocessConfig(preprocess_legal=True, delete_legal=True)


@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_preprocess_stabilizes(s):
    for cfg in CFGS:
        once = preprocess_name(s, cfg)
        twice = preprocess_name(once, cfg)
        assert preprocess_name(twice, cfg) == twice


def test_delete_legal_regression_pinned():
    """Hypothesis-found counterexample (round-5 verdict): each single pass
    deletes ONE more leading legal token, so the single-pass output
    diverges from the reference's double application.  The pipeline
    composition must produce the reference's f(f(x))."""
    s = 'Sa:ß:ß#'
    assert preprocess_name(s, DELETE_CFG) == 'ss ss#'
    assert preprocess_name('ss ss#', DELETE_CFG) == 'ss#'
    assert pipeline_preprocess_name(s, DELETE_CFG) == 'ss#'
    # non-delete configs: the composition is a single pass (identity of
    # the second application is property-tested above)
    for cfg in CFGS:
        assert (pipeline_preprocess_name(s, cfg)
                == preprocess_name(s, cfg))


@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_delete_legal_pipeline_matches_reference_double_pass(s):
    """Parity invariant that replaces stabilization for delete_legal: the
    pipeline's operative composition equals the reference's uncached-path
    double preprocess f(f(x)) (name_matcher.py:705,728)."""
    ref = preprocess_name(preprocess_name(s, DELETE_CFG), DELETE_CFG)
    assert pipeline_preprocess_name(s, DELETE_CFG) == ref


@settings(max_examples=300, deadline=None)
@given(WORDS)
def test_preprocess_idempotent_on_clean_text(s):
    # on pre-cleaned ascii text (no trailing-space artifacts) the default
    # pipeline IS idempotent
    once = preprocess_name(s)
    assert preprocess_name(once) == once


@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_light_preprocess_stabilizes(s):
    once = light_preprocess_name(s)
    twice = light_preprocess_name(once)
    assert light_preprocess_name(twice) == twice


# self-sim == 1 does not hold for the chi-squared/correlation family by
# the reference's own definition (kuhns_iii golden expects 3067/3100 for
# equal strings)
_SELF_ONE_EXCLUDED = {"kuhns_iii", "clement", "pearson_ii"}


@settings(max_examples=150, deadline=None)
@given(WORDS, WORDS)
def test_metrics_bounded(a, b):
    for name, fn in M.METRIC_FUNCTIONS.items():
        v = fn(a, b)
        if name == "typo":
            # reference dist_abs can reach ins+del while the normalizer is
            # max(len*del, len*ins): sim bottoms out at -1, as upstream
            assert -1 - 1e-9 <= v <= 1 + 1e-9, (name, a, b, v)
        else:
            assert -1e-9 <= v <= 1 + 1e-9, (name, a, b, v)


@settings(max_examples=100, deadline=None)
@given(WORDS)
def test_default_metrics_self_is_one(a):
    for name in M.DEFAULT_METRICS:
        if name in _SELF_ONE_EXCLUDED:
            continue
        assert M.METRIC_FUNCTIONS[name](a, a) == 1.0, name


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=8))
def test_batch_kernels_equal_scalar_on_unicode(pairs):
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    for name, kern in MB.BATCH_KERNELS.items():
        got = kern(a, b)
        fn = M.METRIC_FUNCTIONS[name]
        for i, (x, y) in enumerate(pairs):
            assert abs(got[i] - fn(x, y)) < 1e-12, (name, x, y)


def _strip_words_every_word(name, word_set):
    """strip_words before its fast path: every word, in sorted order."""
    for word in sorted(word_set):
        name = " ".join(re.sub(rf"\b{re.escape(word)}\b", "", name).split())
    return name


LEGAL = sorted(legal_word_set())
# names built from legal words, near-misses and separators, so whole-word,
# substring-only and adjacent-removal cases all come up
NAME_PARTS = st.sampled_from(LEGAL) | st.sampled_from(
    ["acme", "bv", "nv", "co", "a", "b.v.", "&", "-", " ", "  ", "\t", "."])


@settings(max_examples=500, deadline=None)
@given(st.lists(NAME_PARTS, max_size=12).map("".join)
       | st.lists(NAME_PARTS, max_size=12).map(" ".join) | TEXT,
       st.frozensets(st.sampled_from(LEGAL) | WORDS, max_size=6)
       | st.just(frozenset(LEGAL)))
def test_strip_words_equals_every_word_removal(name, words):
    assert strip_words(name, words) == _strip_words_every_word(name, words)
    assert strip_words(name, set(words)) == strip_words(name, words)
