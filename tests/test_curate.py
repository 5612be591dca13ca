"""Curation funnel (operators/curate.py) and disjunctive BM25 semantics.

The driver contract already checks curate_keep/curate_funnel/bm25_topk_any
against DuckDB on the sf0.01 corpus (tests/test_entry_contract.py); these
tests pin the SEMANTICS on planted fixtures where each gate provably fires.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from searchengine_spark.operators.curate import (curate_corpus,
                                                 curation_funnel_stats)
from searchengine_spark.operators.relational_search import bm25_topk

GOOD = ("the quick brown fox jumps over a lazy dog and then runs off to "
        "the river in the morning for a long drink of cold water is good")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gates_fire_individually(spark):
    rows = [
        (1, GOOD),                                   # survives
        (2, "short of the and"),                     # quality gate (tokens)
        (3, "alpha beta gamma delta " * 8),          # lang gate (no stopwords)
        (4, GOOD + " lorem ipsum"),                  # content gate (flag)
        (5, GOOD + " var x = {1}"),                  # content gate (brace)
    ]
    out = curate_corpus(_docs(spark, rows), min_tokens=10,
                        min_stop_ratio=0.05).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["split"] in ("train", "val", "test")


def test_dedup_keeps_first_occurrence(spark):
    rows = [(10, GOOD), (3, GOOD), (7, GOOD + " extra tail words here.")]
    out = curate_corpus(_docs(spark, rows), min_tokens=10,
                        min_stop_ratio=0.05)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [3, 7]  # min doc_id per identical text, distinct text kept


def test_funnel_stats_monotone_and_consistent(spark):
    rows = [
        (1, GOOD), (2, GOOD),                        # exact duplicates
        (3, "tiny"), (4, "alpha beta gamma delta " * 8),
        (5, GOOD + " lorem ipsum"),
    ]
    df = _docs(spark, rows)
    st = curation_funnel_stats(df, min_tokens=10,
                               min_stop_ratio=0.05).collect()[0]
    assert (st["n_input"] >= st["n_after_quality"] >= st["n_after_lang"]
            >= st["n_after_content"] >= st["n_kept"])
    assert st["n_input"] == 5
    assert st["n_after_content"] == 2   # docs 1 and 2 survive the gates
    kept = curate_corpus(df, min_tokens=10, min_stop_ratio=0.05).count()
    assert st["n_kept"] == kept == 1    # dup collapses to one


def test_bm25_any_superset_of_all(spark):
    rows = [
        (1, "hash merge hash table"),
        (2, "merge sort only"),
        (3, "hash only here"),
        (4, "nothing relevant at all"),
    ]
    df = _docs(spark, rows)
    allr = bm25_topk(df, ["hash", "merge"], k=10, mode="all").collect()
    anyr = bm25_topk(df, ["hash", "merge"], k=10, mode="any").collect()
    all_ids = {r["doc_id"] for r in allr}
    any_ids = {r["doc_id"] for r in anyr}
    assert all_ids == {1}
    assert any_ids == {1, 2, 3}          # ranked union, non-matches absent
    # scores of conjunctive matches are identical in both modes
    s_all = {r["doc_id"]: r["score"] for r in allr}
    s_any = {r["doc_id"]: r["score"] for r in anyr}
    for d in all_ids:
        assert abs(s_all[d] - s_any[d]) < 1e-9


def test_bm25_any_equals_all_for_single_term(spark):
    rows = [(1, "hash a b"), (2, "c hash hash d"), (3, "e f g")]
    df = _docs(spark, rows)
    a = bm25_topk(df, ["hash"], k=10, mode="all").collect()
    b = bm25_topk(df, ["hash"], k=10, mode="any").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
           [(r["doc_id"], r["score"]) for r in b]


def test_bm25_bad_mode_rejected(spark):
    import pytest
    with pytest.raises(ValueError):
        bm25_topk(_docs(spark, [(1, "x")]), ["x"], mode="or")


def test_quality_percentile_filter_per_stratum(spark):
    """Top-frac selection ranks WITHIN each stratum: the short-but-best
    doc of a short language survives while a longer doc of a verbose
    language does not."""
    from searchengine_spark.operators.curate import quality_percentile_filter
    rows = [(i, "w " * n, lang) for i, (n, lang) in enumerate([
        (10, "en"), (20, "en"), (30, "en"), (40, "en"), (50, "en"),
        (2, "de"), (4, "de")])]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = sorted(r["doc_id"] for r in
                 quality_percentile_filter(df, top_frac=0.25).collect())
    # en: pr over 5 docs = 0,.25,.5,.75,1 → keep pr>=0.75 → docs 3,4
    # de: pr over 2 docs = 0,1 → keep doc 6 (4 tokens > 2 tokens)
    assert out == [3, 4, 6]


def test_quality_percentile_filter_tie_determinism(spark):
    """Equal token counts break by doc_id — the ranking (and therefore
    membership) is fully deterministic across runs and engines."""
    from searchengine_spark.operators.curate import quality_percentile_filter
    df = spark.createDataFrame([(i, "a b c", "en") for i in range(4)],
                               "doc_id long, text string, lang string")
    a = sorted(r["doc_id"] for r in
               quality_percentile_filter(df, top_frac=0.5).collect())
    b = sorted(r["doc_id"] for r in
               quality_percentile_filter(df, top_frac=0.5).collect())
    # pr = 0, 1/3, 2/3, 1 by doc_id order → keep pr >= 0.5 → docs 2, 3
    assert a == b == [2, 3]


# --- histogram (scale) route: exact equivalence with the window route -------

def _pct_rows(spark, rows, top_frac, method):
    from searchengine_spark.operators.curate import quality_percentile_filter
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = quality_percentile_filter(df, top_frac=top_frac, method=method)
    return sorted((r["doc_id"], r["n_tokens"]) for r in out.collect())


def _tie_heavy_corpus():
    """Strata engineered to hit every histogram-route branch: heavy ties
    straddling the cut, a singleton stratum, an all-tied stratum, a NULL
    text, and a two-doc stratum."""
    import random
    rng = random.Random(7)
    rows = []
    i = 0
    for _ in range(40):                       # en: counts drawn from {1..5}
        rows.append((i, "w " * rng.randint(1, 5), "en")); i += 1
    for _ in range(9):                        # de: all tied
        rows.append((i, "x y z", "de")); i += 1
    rows.append((i, "only doc here", "fr")); i += 1   # singleton stratum
    rows.append((i, None, "en")); i += 1              # NULL text → 0 tokens
    rows.append((i, "a b", "it")); i += 1             # two-doc stratum
    rows.append((i, "a b c d", "it")); i += 1
    for _ in range(5):                                # NULL stratum (failed
        rows.append((i, "p q r " * rng.randint(1, 3), None)); i += 1  # lang-id)
    return rows


import pytest


@pytest.mark.parametrize("top_frac", [0.2, 0.25, 0.33, 0.5, 0.8, 1.0, 0.01])
def test_percentile_histogram_equals_window(spark, top_frac):
    rows = _tie_heavy_corpus()
    w = _pct_rows(spark, rows, top_frac, "window")
    h = _pct_rows(spark, rows, top_frac, "histogram")
    assert h == w, (top_frac, len(w), len(h))


def test_percentile_auto_routes_by_stratum_size(spark):
    """auto = histogram when the largest stratum exceeds max_sort_rows;
    both routes agree on the result either way."""
    from searchengine_spark.operators.curate import quality_percentile_filter
    rows = _tie_heavy_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    small_bound = quality_percentile_filter(df, top_frac=0.5, method="auto",
                                            max_sort_rows=5)
    big_bound = quality_percentile_filter(df, top_frac=0.5, method="auto",
                                          max_sort_rows=10**6)
    a = sorted(r["doc_id"] for r in small_bound.collect())
    b = sorted(r["doc_id"] for r in big_bound.collect())
    assert a == b and len(a) > 0


def test_percentile_singleton_stratum_granularity(spark):
    """Documented percent_rank granularity: a singleton stratum's doc is
    kept only at top_frac >= 1 — identically on both routes."""
    rows = [(1, "solo words here", "fr")]
    for f, expect in ((0.5, []), (1.0, [(1, 3)])):
        assert _pct_rows(spark, rows, f, "window") == expect
        assert _pct_rows(spark, rows, f, "histogram") == expect


def test_percentile_null_text_counts_zero(spark):
    """NULL text ranks as 0 tokens (lowest), not NULLS-FIRST/LAST
    engine-dependent — it is dropped for any top_frac < 1."""
    rows = [(1, None, "en"), (2, "a b c", "en"), (3, "a b c d e", "en")]
    for method in ("window", "histogram"):
        out = _pct_rows(spark, rows, 0.5, method)
        assert out == [(2, 3), (3, 5)]
        full = _pct_rows(spark, rows, 1.0, method)
        assert (1, 0) in full


def test_percentile_bad_method_rejected(spark):
    from searchengine_spark.operators.curate import quality_percentile_filter
    df = spark.createDataFrame([(1, "x", "en")],
                               "doc_id long, text string, lang string")
    with pytest.raises(ValueError):
        quality_percentile_filter(df, method="quantile")


from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.lists(
    st.tuples(st.sampled_from(["en", "de", "fr", None]),   # stratum
              st.integers(min_value=0, max_value=6)),      # token count
    min_size=1, max_size=60),
    st.sampled_from([0.1, 0.2, 0.25, 0.5, 0.75, 0.99, 1.0]))
@settings(max_examples=12, deadline=None)
def test_percentile_routes_agree_randomized(spark, rows, top_frac):
    """Property: histogram ≡ window on ARBITRARY corpora — random strata
    (incl. NULL), tie-heavy small token counts, grid of top_frac. This
    is the randomized backstop behind the ±2 K-probe and the null-safe
    membership joins."""
    data = [(i, "w " * n if n else "", lang)
            for i, (lang, n) in enumerate(rows)]
    w = _pct_rows(spark, data, top_frac, "window")
    h = _pct_rows(spark, data, top_frac, "histogram")
    assert h == w, (top_frac, rows)


def test_percentile_histogram_integer_strata_under_ansi(spark):
    """Integer strata (e.g. lang ids, NULL for failed lang-id) work on the
    histogram route under ANSI mode and agree with the window route."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        rows = [(i, "w " * (i % 5 + 1), i % 3 if i % 7 else None)
                for i in range(40)]
        data = spark.createDataFrame(rows,
                                     "doc_id long, text string, lang int")
        from searchengine_spark.operators.curate import \
            quality_percentile_filter
        got = {m: sorted((r["doc_id"], r["n_tokens"]) for r in
                         quality_percentile_filter(data, top_frac=0.5,
                                                   method=m).collect())
               for m in ("window", "histogram")}
    finally:
        spark.conf.set(key, old)
    assert got["histogram"] == got["window"] and got["window"]
