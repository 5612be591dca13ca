"""Block-max WAND path: rank-identical to the exact path and the oracle,
including under head-term range-sharding (salting invariance, SURVEY.md §5)."""

import shutil

import pytest

from tests.conftest import N_FIXTURE_DOCS


def _analyze(eng, query):
    return eng.query_engine.analyze(query)


def _exact_topk(eng, terms, k, offset=0):
    import pyspark.sql.functions as F

    return [
        (r["doc_id"], r["score"])
        for r in eng.query_engine.candidates_df(terms)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .offset(offset).limit(k).collect()
    ]


def _wand_topk(eng, terms, k, offset=0):
    from searchengine_spark.plans.wand import wand_topk

    return [(r["doc_id"], r["score"])
            for r in wand_topk(eng.spark, eng.io, eng.cfg, terms,
                               k=k, offset=offset).collect()]


WAND_QUERIES = [
    "леопард",
    "леопард обитает",
    "появление леопарда в Осетии",
]


def test_wand_matches_exact_on_queryset(built_engine):
    from searchengine_spark.sources.queryset import reference_queries

    checked = 0
    for q in reference_queries():
        if q["site"] is not None or not q["query"]:
            continue
        terms = _analyze(built_engine, q["query"])
        if not terms:
            continue
        exact = _exact_topk(built_engine, terms, q["k"], q["offset"])
        wand = _wand_topk(built_engine, terms, q["k"], q["offset"])
        assert [d for d, _ in wand] == [d for d, _ in exact], q["query"]
        for (_, sw), (_, se) in zip(wand, exact):
            assert sw == pytest.approx(se, abs=1e-9)
        checked += 1
    assert checked >= 15


def test_wand_search_response_matches_oracle(built_engine, oracle_index):
    from searchengine_spark import oracle as O

    for q in WAND_QUERIES:
        want = O.search(oracle_index, q, limit=10, with_snippets=False)
        got = built_engine.search(q, limit=10, with_snippets=False,
                                  strategy="wand")
        assert got["result"] and want["result"]
        assert got["count"] == want["count"]
        assert [h["doc_id"] for h in got["data"]] == \
               [h["doc_id"] for h in want["data"]]
        for hg, hw in zip(got["data"], want["data"]):
            assert hg["score"] == pytest.approx(hw["score"], abs=1e-6)


@pytest.fixture(scope="module")
def salted_engine(spark, tmp_path_factory):
    """Engine built with aggressive salting: every term with df>8 is
    range-sharded into 64-doc shards, tiny blocks — exercises multi-shard,
    multi-block, multi-range code paths on the 300-doc fixture corpus."""
    from searchengine_spark.config import EngineConfig
    from searchengine_spark.plans.api import SearchEngine
    from searchengine_spark.sources.corpus import gen_pages_spark

    cfg = EngineConfig(block_size=16, salt_df_threshold=8, salt_shard_docs=64)
    work = str(tmp_path_factory.mktemp("salted_work"))
    eng = SearchEngine(spark, work, cfg)
    eng.build_index(gen_pages_spark(spark, N_FIXTURE_DOCS, partitions=4))
    yield eng
    shutil.rmtree(work, ignore_errors=True)


def test_salting_sharded_head_terms(salted_engine):
    """Head terms actually got sharded (shard > 0 exists) and no single
    (term, shard) group exceeds the shard width."""
    import pyspark.sql.functions as F

    blocks = salted_engine.io.read("blocks")
    n_sharded = blocks.filter(F.col("shard") > 0).count()
    assert n_sharded > 0
    bad = (blocks.filter(F.col("shard") >= 0)
           .filter((F.col("doc_max") - F.col("shard") * 64 >= 64)
                   & (F.col("shard") > 0)).count())
    assert bad == 0


def test_salting_invariance(built_engine, salted_engine):
    """Same corpus, salted vs unsalted build => identical top-k (the
    north_rule's merge-correctness evidence)."""
    for q in WAND_QUERIES + ["междометие речь"]:
        terms_a = _analyze(built_engine, q)
        terms_b = _analyze(salted_engine, q)
        assert [(t["term"], t["df"]) for t in terms_a] == \
               [(t["term"], t["df"]) for t in terms_b]
        a = _wand_topk(built_engine, terms_a, 10)
        b = _wand_topk(salted_engine, terms_b, 10)
        assert [d for d, _ in a] == [d for d, _ in b]
        for (_, sa), (_, sb) in zip(a, b):
            assert sa == pytest.approx(sb, abs=1e-9)


def test_wand_pagination(built_engine):
    terms = _analyze(built_engine, "появление леопарда")
    if not terms:
        pytest.skip("corpus lacks query terms")
    full = _exact_topk(built_engine, terms, 30)
    page = _wand_topk(built_engine, terms, 10, offset=10)
    assert [d for d, _ in page] == [d for d, _ in full[10:20]]


def test_rare_term_range_explode_is_bounded(salted_engine):
    """Mixed query (rare unsharded term AND sharded head term): the
    exploded block->range coverage must be restricted to ranges where the
    RAREST term actually has postings — without the bound, the head term
    contributes one metadata row per range of the whole corpus and every
    range becomes a task (the 100x-scale failure mode)."""
    import pyspark.sql.functions as F

    from searchengine_spark.plans.build import term_bucket
    from searchengine_spark.plans.wand import (candidate_ranges,
                                               explode_coverage)

    eng = salted_engine
    cfg = eng.cfg
    terms_tbl = eng.io.read("terms").collect()
    rare_row = min((r for r in terms_tbl if r["df"] <= cfg.salt_df_threshold),
                   key=lambda r: (r["df"], r["term"]))
    head_row = max(terms_tbl, key=lambda r: (r["df"], r["term"]))
    assert head_row["df"] > cfg.salt_df_threshold  # actually sharded
    terms = [{"term": rare_row["term"], "df": rare_row["df"], "idf": 1.0},
             {"term": head_row["term"], "df": head_row["df"], "idf": 1.0}]

    range_w = cfg.salt_shard_docs
    names = [t["term"] for t in terms]
    buckets = sorted({term_bucket(t, cfg.term_buckets) for t in names})
    blocks = (eng.io.read("blocks")
              .filter(F.col("term_bucket").isin(buckets))
              .filter(F.col("term").isin(names)))

    cand = candidate_ranges(blocks, terms, cfg, range_w)
    assert cand is not None and len(cand) <= rare_row["df"]

    bounded = explode_coverage(blocks, range_w, 8, cand)
    unbounded = explode_coverage(blocks, range_w, 8, None)
    # head-term rows collapse to the rare term's coverage: at most
    # blocks-per-range (shard_w/block_size) per candidate range
    per_range = -(-range_w // cfg.block_size)
    head_bounded = bounded.filter(F.col("term") == head_row["term"]).count()
    head_unbounded = (unbounded.filter(F.col("term") == head_row["term"])
                      .count())
    assert head_bounded <= per_range * len(cand)
    assert head_bounded <= head_unbounded
    # the rare term's own fan-out is bounded by its coverage too (its
    # unsharded blocks may span many ranges)
    rare_bounded = bounded.filter(F.col("term") == rare_row["term"]).count()
    assert rare_bounded <= len(cand) * max(
        1, -(-rare_row["df"] // cfg.block_size))

    # and the bounded plan still returns the exact answer
    exact = _exact_topk(eng, terms, 10)
    wand = _wand_topk(eng, terms, 10)
    assert [d for d, _ in wand] == [d for d, _ in exact]


def test_sharded_rarest_term_skips_range_derivation(salted_engine):
    """When even the rarest query term is sharded (df > threshold), every
    block covers exactly one range and candidate_ranges must return None
    instead of decoding a potentially huge term."""
    import pyspark.sql.functions as F

    from searchengine_spark.plans.build import term_bucket
    from searchengine_spark.plans.wand import candidate_ranges

    eng = salted_engine
    cfg = eng.cfg
    terms_tbl = eng.io.read("terms").collect()
    sharded = [r for r in terms_tbl if r["df"] > cfg.salt_df_threshold]
    assert sharded
    row = min(sharded, key=lambda r: (r["df"], r["term"]))
    terms = [{"term": row["term"], "df": row["df"], "idf": 1.0}]
    blocks = (eng.io.read("blocks")
              .filter(F.col("term_bucket").isin(
                  [term_bucket(row["term"], cfg.term_buckets)]))
              .filter(F.col("term") == row["term"]))
    assert candidate_ranges(blocks, terms, cfg, cfg.salt_shard_docs) is None
