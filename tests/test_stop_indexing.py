"""C2 stopIndexing: cancel a running build, observe FAILED status with the
user-stop message and an aborted stage manifest, then resume from the
checkpoint and verify the index serves (reference
IndexingServiceImpl.getStopResponse :53-78)."""

import shutil
import time

import pytest

from searchengine_spark.plans.api import (ERR_ALREADY_RUNNING,
                                          ERR_NOT_RUNNING, STOP_MESSAGE,
                                          SearchEngine)
from searchengine_spark.sources.corpus import gen_pages_spark

N_DOCS = 12_000  # big enough that the build outlives the stop call


@pytest.fixture()
def work(tmp_path):
    w = str(tmp_path / "stopwork")
    yield w
    shutil.rmtree(w, ignore_errors=True)


def test_stop_not_running(spark, work):
    eng = SearchEngine(spark, work)
    assert eng.stop_indexing() == {"result": False, "error": ERR_NOT_RUNNING}


def test_stop_then_resume(spark, work):
    eng = SearchEngine(spark, work)
    pages = gen_pages_spark(spark, N_DOCS, partitions=8)

    assert eng.start_indexing(pages) == {"result": True}
    # second start while running must refuse (C1 guard)
    deadline = time.monotonic() + 60
    second = eng.start_indexing(pages)
    if eng.is_indexing():
        assert second == {"result": False, "error": ERR_ALREADY_RUNNING}

    # wait until the build is actually inside a stage, then stop
    while time.monotonic() < deadline:
        try:
            if eng.io.read_meta("build_status")["status"] == "INDEXING":
                break
        except FileNotFoundError:
            pass
        time.sleep(0.05)
    r = eng.stop_indexing()
    if r == {"result": False, "error": ERR_NOT_RUNNING}:
        pytest.skip("build finished before stop landed (host too fast)")
    assert r == {"result": True}

    status = eng.io.read_meta("build_status")
    assert status["status"] == "FAILED"
    assert status["error"] == STOP_MESSAGE
    aborted_stage = status["stage"]
    m = eng.io.read_manifest(aborted_stage)
    assert m is not None and m["status"] == "aborted"

    # resume completes from the checkpoint: earlier completed stages skipped
    report = eng.build_index(pages, resume=True)
    assert eng.io.read_meta("build_status")["status"] == "INDEXED"
    done_before = [s for s in report if isinstance(report[s], dict)
                   and report[s].get("skipped")]
    for s in ("docs", "postings", "terms", "stats", "blocks"):
        assert eng.io.stage_complete(s)
    # stages completed before the stop were not rebuilt
    stage_order = ["docs", "postings", "terms", "stats", "blocks"]
    for s in stage_order[:stage_order.index(aborted_stage)]:
        assert s in done_before, (s, done_before)

    stats = eng.statistics()
    assert stats["result"] is True
    d0 = stats["statistics"]["detailed"][0]
    assert d0["status"] == "INDEXED" and d0["error"] is None
    assert isinstance(d0["status_time"], int)
    assert stats["statistics"]["total"]["indexing"] is False


def test_statistics_status_surface(built_engine):
    stats = built_engine.statistics()
    assert stats["result"] is True
    total = stats["statistics"]["total"]
    assert set(total) == {"sites", "pages", "lemmas", "indexing"}
    for row in stats["statistics"]["detailed"]:
        assert set(row) == {"site", "name", "pages", "lemmas", "status",
                            "error", "status_time"}
        assert row["status"] == "INDEXED"
        assert row["name"] == row["site"]


def test_stop_on_resume_never_clobbers_completed_manifests(spark, work):
    """A stop landing while a resume build is skipping completed stages
    must not overwrite any completed stage's manifest with an aborted one
    (vacuum would then see files=[] and delete the whole table)."""
    import threading

    from searchengine_spark.plans.build import IndexBuilder
    from searchengine_spark.sources.corpus import gen_pages_spark

    eng = SearchEngine(spark, work)
    eng.build_index(gen_pages_spark(spark, 120, partitions=4))
    # invalidate only the last stage; docs..stats stay complete
    io = eng.io
    import os
    os.remove(io._manifest_path("blocks"))

    ev = threading.Event()
    ev.set()  # stop already requested when the resume starts
    builder = IndexBuilder(spark, io, eng.cfg, stop_event=ev)
    with pytest.raises(InterruptedError):
        builder.build(gen_pages_spark(spark, 120, partitions=4), resume=True)

    for s in ("docs", "postings", "terms", "stats"):
        m = io.read_manifest(s)
        assert m["status"] == "complete", s
        if s != "stats":  # stats is scalar meta — no data files by design
            assert m["files"], s
        assert io.vacuum(s) == 0  # nothing deletable
    assert io.read_manifest("blocks")["status"] == "aborted"
    # resume without the stop completes and the index serves
    eng.build_index(gen_pages_spark(spark, 120, partitions=4), resume=True)
    assert eng.search("леопард обитает")["result"] is True


def test_incremental_respects_index_layout(spark, work):
    """upsert/remove through an engine whose live cfg disagrees with the
    index layout must write to the index's own term_buckets."""
    from searchengine_spark import oracle as O
    from searchengine_spark.config import EngineConfig
    from searchengine_spark.sources.corpus import (gen_pages_local,
                                                   gen_pages_spark)

    builder_eng = SearchEngine(spark, work, EngineConfig(term_buckets=8))
    builder_eng.build_index(gen_pages_spark(spark, 120, partitions=4))

    foreign = SearchEngine(spark, work)  # default cfg says 64 buckets
    base = gen_pages_local(120)
    victim = base[7]
    foreign.remove_page(victim["url"])

    idx = O.build_index([p for p in base if p["url"] != victim["url"]])
    got = {r["term"]: (r["df"], r["cf"])
           for r in foreign.io.read("terms").collect()}
    assert got == {t: (idx.df[t], idx.cf[t]) for t in idx.df}
    # no row landed in a 64-bucket layout's bucket
    for table in ("postings", "terms", "blocks"):
        held = {b for f in foreign.io.read_manifest(table)["files"]
                for b in f["buckets"]}
        assert held and max(held) < 8, (table, held)


def test_remove_docs_requires_target(spark, work):
    from searchengine_spark.sources.corpus import gen_pages_spark
    from searchengine_spark.streaming.incremental import remove_docs

    eng = SearchEngine(spark, work)
    eng.build_index(gen_pages_spark(spark, 60, partitions=2))
    with pytest.raises(ValueError):
        remove_docs(spark, eng.io, eng.cfg)


def test_bm25_topk_empty_query_returns_empty(spark):
    from searchengine_spark.operators.relational_search import bm25_topk

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = bm25_topk(docs, [], k=5)
    assert out.columns == ["doc_id", "score"]
    assert out.count() == 0
