"""Spark build pipeline: schemas, determinism vs oracle, manifest lineage."""

import pyspark.sql.functions as F
import pytest


def test_spark_corpus_matches_local(spark, fixture_pages):
    from searchengine_spark.sources.corpus import gen_pages_spark

    df = gen_pages_spark(spark, 50, partitions=4)
    rows = {r["url"]: r for r in df.collect()}
    for p in [p for p in fixture_pages if int(p["url"][-8:]) < 50]:
        r = rows[p["url"]]
        assert bytes(r["html"]) == p["html"]
        assert r["text"] == p["text"]
        assert r["lang"] == p["lang"]
    assert len(rows) == 50


def test_docs_stage(built_engine, oracle_index):
    docs = built_engine.io.read("docs")
    assert docs.count() == oracle_index.n_docs
    # doc ids identical to the oracle spec for every url
    got = {r["url"]: r["doc_id"] for r in docs.select("url", "doc_id").collect()}
    want = {d["url"]: i for i, d in oracle_index.docs.items()}
    assert got == want
    # extracted text byte-identical per url (input_hint invariant)
    texts = {r["url"]: r["text"] for r in docs.select("url", "text").collect()}
    for i, d in oracle_index.docs.items():
        assert texts[d["url"]] == d["text"]


def test_postings_match_oracle(built_engine, oracle_index):
    postings = built_engine.io.read("postings")
    got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
           for r in postings.select("term", "doc_id", "tf", "dl").collect()}
    want = {}
    for term, pl in oracle_index.postings.items():
        for doc_id, tf in pl.items():
            want[(term, doc_id)] = (tf, oracle_index.dl[doc_id])
    assert got == want


def test_terms_match_oracle(built_engine, oracle_index):
    terms = {r["term"]: (r["df"], r["cf"])
             for r in built_engine.io.read("terms").collect()}
    assert terms == {t: (oracle_index.df[t], oracle_index.cf[t])
                     for t in oracle_index.df}


def test_stats_match_oracle(built_engine, oracle_index):
    stats = built_engine.io.read_meta("stats")
    assert stats["n_docs"] == oracle_index.n_docs
    assert stats["avgdl"] == pytest.approx(oracle_index.avgdl, rel=1e-9)


def test_manifest_lineage(built_engine):
    for stage in ("docs", "postings", "terms", "stats"):
        m = built_engine.io.read_manifest(stage)
        assert m is not None and m["status"] == "complete", stage
        assert m["wall_ms"] >= 0
    m = built_engine.io.read_manifest("postings")
    # per-partition lineage: every parquet part accounted for, rows sum up
    assert len(m["files"]) >= 1
    assert sum(f["rows"] for f in m["files"]) == m["rows"]
    assert all(f["bytes"] > 0 for f in m["files"])


def test_postings_partitioned_by_term_bucket(spark, built_engine):
    # file-pruning layout: at most one file per core, each holding whole
    # term buckets, the manifest recording every file's bucket set
    files = built_engine.io.read_manifest("postings")["files"]
    assert 1 < len(files) <= spark.sparkContext.defaultParallelism
    held = [b for f in files for b in f["buckets"]]
    assert sorted(held) == list(range(built_engine.cfg.term_buckets))


def test_scan_prunes_html_column(spark, tmp_path):
    """The extract stage must not drag html beyond the scan (column pruning
    + early projection)."""
    from searchengine_spark.functions.udfs import extract_docs
    from searchengine_spark.sources.corpus import gen_pages_spark

    p = str(tmp_path / "pages")
    gen_pages_spark(spark, 20, partitions=2).write.parquet(p)
    pages = spark.read.parquet(p)
    plan = extract_docs(pages)._jdf.queryExecution().executedPlan().toString()
    # scan reads only url+html; text/lang/warc_ts pruned
    assert "ReadSchema" in plan
    schema_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "url" in schema_line and "html" in schema_line
    assert "warc_ts" not in schema_line and "lang" not in schema_line


def test_failure_before_first_stage_propagates_original(spark, tmp_path):
    """A failure BEFORE the first run_stage (e.g. the status write hitting
    a full disk) must propagate the original exception — the handler runs
    with started == [] and must neither raise IndexError itself nor let
    its own FAILED status write mask the real error."""
    from searchengine_spark.config import EngineConfig
    from searchengine_spark.plans.build import IndexBuilder
    from searchengine_spark.sources.corpus import gen_pages_spark
    from searchengine_spark.sources.tableio import TableIO

    b = IndexBuilder(spark, TableIO(spark, str(tmp_path)), EngineConfig())
    calls = {"n": 0}

    def boom(status, stage=None, error=None):
        calls["n"] += 1
        if calls["n"] >= 2:  # first call is outside the try block
            raise OSError("disk full (simulated)")

    b.write_status = boom
    with pytest.raises(OSError, match="disk full"):
        b.build(gen_pages_spark(spark, 20, partitions=2))
