"""Physical-plan assertions — the plans we WANT, not just plans that pass.

SURVEY.md §4: pushdown/pruning are Catalyst built-ins we must actually hit;
these tests read executedPlan to prove the scan shapes hold (the 100 TB
argument: a query touches only its terms' buckets, scans never drag html,
top-k plans as TakeOrderedAndProject)."""

import pyspark.sql.functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bucket_files(eng, table, terms) -> set[str]:
    """The live files of table whose manifest bucket set holds a query
    term's bucket (the files a query may pin)."""
    import os

    from searchengine_spark.plans.build import term_bucket

    buckets = {term_bucket(t["term"], eng.cfg.term_buckets) for t in terms}
    return {os.path.join(eng.io.work_dir, f["path"])
            for f in eng.io.read_manifest(table)["files"]
            if buckets & set(f["buckets"])}


def _scanned(df) -> set[str]:
    from urllib.parse import urlparse

    return {urlparse(p).path for p in df.inputFiles()}


def test_query_postings_scan_partition_pruned(spark, built_engine):
    """The exact query path's postings scan must touch only the files
    holding the query terms' term_buckets (file pruning through the
    manifest's bucket sets)."""
    from searchengine_spark.plans.query import QueryEngine

    qe = QueryEngine(spark, built_engine.io)  # cold: scans read files
    terms = qe.analyze("леопард")
    assert terms
    df = qe.candidates_df(terms)
    want = _bucket_files(built_engine, "postings", terms)
    n_files = len(built_engine.io.read_manifest("postings")["files"])
    assert _scanned(df) == want and len(want) < n_files
    assert "term_bucket" not in _plan(df)  # no bucket filter left


def test_query_joins_broadcast_query_terms(built_engine):
    """Query-terms frame (tiny) must broadcast — no shuffle of postings for
    the J1 dictionary join."""
    qe = built_engine.query_engine
    terms = qe.analyze("леопард обитает")
    plan = _plan(qe.candidates_df(terms))
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(built_engine):
    qe = built_engine.query_engine
    terms = qe.analyze("появление леопарда")
    topk = (qe.candidates_df(terms)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10))
    assert "TakeOrderedAndProject" in _plan(topk)


def test_wand_blocks_scan_pruned(built_engine):
    """A cold WAND query scans only the blocks files holding the query
    terms' term_buckets."""
    from searchengine_spark.plans.wand import wand_topk

    qe = built_engine.query_engine
    terms = qe.analyze("леопард")
    df = wand_topk(built_engine.spark, built_engine.io, built_engine.cfg,
                   terms, k=10)
    want = _bucket_files(built_engine, "blocks", terms)
    n_files = len(built_engine.io.read_manifest("blocks")["files"])
    assert _scanned(df) == want and len(want) < n_files


def test_docs_scan_never_reads_text_for_stats(built_engine):
    """Column pruning: a stats-style aggregation over docs must not read
    the text column."""
    docs = built_engine.io.read("docs")
    agg = docs.groupBy("site").agg(F.count("*").alias("pages"))
    schema_lines = [ln for ln in _plan(agg).splitlines() if "ReadSchema" in ln]
    assert schema_lines and "text" not in schema_lines[0]


def test_site_stats_frame_is_join_free_on_sited_postings(built_engine):
    """Postings built by current code carry site_id, so the site_stats
    lemma aggregation must be ONE column-pruned scan of postings — no
    postings⋈docs join (that was a second full postings-sized shuffle;
    the only join left is the tiny post-aggregation site-name attach)."""
    eng = built_engine
    from searchengine_spark.plans.build import IndexBuilder

    b = IndexBuilder(eng.spark, eng.io, eng.cfg)
    postings = eng.io.read("postings")
    assert "site_id" in postings.columns
    frame = b._site_stats_frame(eng.io.read("docs"), postings)
    plan = _plan(frame)
    # the postings scan reads only (site_id, term) + the partition col
    schema_lines = [ln for ln in plan.splitlines()
                    if "ReadSchema" in ln and "tf" in ln]
    assert not schema_lines, plan  # no scan drags tf/dl/doc_id columns
    # no join keyed on doc_id anywhere (the legacy fact-table join shape)
    assert "doc_id" not in plan, plan


def _pdocs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_curation_signals_zero_shuffle(spark):
    """The funnel's signal projection (quality/lang/content gates) is one
    row-local codegen stage — no Exchange anywhere in the plan."""
    from searchengine_spark.operators.curate import curation_signals
    plan = _plan(curation_signals(_pdocs(spark)))
    assert "Exchange" not in plan, plan


def test_curate_corpus_exactly_one_exchange(spark):
    """The WHOLE curation funnel (gates -> exact dedup keep-first ->
    split) costs exactly one exchange: the md5-signature groupBy. The
    document text itself never shuffles (only the 32-char signature +
    two longs cross the wire)."""
    from searchengine_spark.operators.curate import curate_corpus
    plan = _plan(curate_corpus(_pdocs(spark), min_tokens=30))
    assert plan.count("Exchange") == 1, plan
    exch = [ln for ln in plan.splitlines() if "Exchange" in ln][0]
    assert "hashpartitioning" in exch, exch
    assert "text" not in exch, exch  # text stays in its input partition


def test_bm25_any_plans_take_ordered(spark):
    """Disjunctive BM25 keeps the conjunctive path's bounded top-k plan
    (TakeOrderedAndProject = per-partition min-heap + driver merge)."""
    from searchengine_spark.operators.relational_search import bm25_topk
    plan = _plan(bm25_topk(_pdocs(spark), ["hash", "merge"], k=10,
                           mode="any"))
    assert "TakeOrderedAndProject" in plan, plan


def test_simhash64_broadcast_auto_fallback(spark):
    """The sign-table join broadcasts only while the vocabulary fits: the
    default emits no hint and AQE picks the strategy from the distinct's
    ACTUAL runtime size — broadcast under autoBroadcastJoinThreshold,
    shuffle join above it (simulated here by zeroing the threshold, the
    same decision a 10^8-term sign table hits for real)."""
    from searchengine_spark.operators.textstats import (simhash64,
                                                        term_frequencies)

    docs = spark.createDataFrame(
        [(i, f"w{i} w{(i + 1) % 8} common") for i in range(8)],
        "doc_id long, text string")
    tf = term_frequencies(docs)

    def final_plan(df):
        df.collect()  # finalize the adaptive plan with runtime stats
        return _plan(df)

    assert "BroadcastHashJoin" in final_plan(simhash64(tf))  # tiny vocab
    explicit = _plan(simhash64(tf, broadcast_signs=True))    # static hint
    assert "BroadcastHashJoin" in explicit
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")  # every sign table is now "too big"
    try:
        over = final_plan(simhash64(tf))
        assert "BroadcastHashJoin" not in over               # AQE fallback
    finally:
        spark.conf.set(key, prev)
