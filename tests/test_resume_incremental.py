"""Checkpoint-resume (north_rule) + incremental maintenance (C3/S7/S8).

Resume: kill after stage n is simulated by invalidating later stages'
manifests; a resume build must skip completed stages and produce an index
identical to a from-scratch build. Incremental: upsert/remove recompute the
affected slices; results must equal an oracle built on the edited page set
(the declarative analog of the reference's df-decrement math,
services/IndexingServiceImpl.removePageDataFromBD :185-198)."""

import os
import re
import shutil

import pytest

N = 120


@pytest.fixture(scope="module")
def small_engine(spark, tmp_path_factory):
    from searchengine_spark.plans.api import SearchEngine
    from searchengine_spark.sources.corpus import gen_pages_spark

    work = str(tmp_path_factory.mktemp("resume_work"))
    eng = SearchEngine(spark, work)
    eng.build_index(gen_pages_spark(spark, N, partitions=4))
    yield eng
    shutil.rmtree(work, ignore_errors=True)


def _terms_snapshot(eng):
    return {r["term"]: (r["df"], r["cf"])
            for r in eng.io.read("terms").collect()}


def test_resume_skips_completed_stages(small_engine, spark):
    from searchengine_spark.plans.build import STAGES
    from searchengine_spark.sources.corpus import gen_pages_spark

    before = _terms_snapshot(small_engine)
    io = small_engine.io

    # simulate a crash after 'postings': later stages lose manifest + data
    for stage in ("terms", "stats", "blocks"):
        os.remove(io._manifest_path(stage))
        shutil.rmtree(io.path(stage), ignore_errors=True)
    if os.path.exists(os.path.join(io.work_dir, "stats.json")):
        os.remove(os.path.join(io.work_dir, "stats.json"))
    assert io.stage_complete("docs") and io.stage_complete("postings")
    assert not io.stage_complete("terms")

    report = small_engine.build_index(
        gen_pages_spark(spark, N, partitions=4), resume=True)
    assert report["docs"].get("skipped") is True
    assert report["postings"].get("skipped") is True
    assert "skipped" not in report["terms"]
    assert "skipped" not in report["blocks"]
    for stage in STAGES:
        assert io.stage_complete(stage)
    assert _terms_snapshot(small_engine) == before


def test_resume_noop_when_all_complete(small_engine, spark):
    from searchengine_spark.sources.corpus import gen_pages_spark

    report = small_engine.build_index(
        gen_pages_spark(spark, N, partitions=4), resume=True)
    assert all(report[s].get("skipped") for s in
               ("docs", "postings", "terms", "stats", "blocks"))


def test_refresh_blocks_on_fresh_build_equals_build(small_engine):
    """refresh_blocks runs the build's own blocks stage: on an unchanged
    fresh build it commits the build's blocks rows and the same blocks
    manifest extra (avgdl, head terms, block layout)."""
    io = small_engine.io
    rows = sorted(tuple(r) for r in io.read("blocks").collect())
    extra = io.read_manifest("blocks")["extra"]
    assert extra["avgdl"] is not None

    rep = small_engine.refresh_blocks()
    assert rep["status"] == "complete"
    assert io.read_manifest("blocks")["extra"] == extra
    assert sorted(tuple(r) for r in io.read("blocks").collect()) == rows


def test_resumed_build_leaves_only_manifest_files(spark, tmp_path,
                                                  monkeypatch):
    """A build stopped mid-commit leaves debris: a terms generation moved
    into its table but never committed. The site_stats write stopped
    before its move removes its own `_tmp_<table>` side directory. The
    resumed build commits through the same file replacement, so
    afterwards every table directory holds exactly its manifest's files
    and no side directory is left."""
    from searchengine_spark.plans.build import TABLES, IndexBuilder
    from searchengine_spark.sources.corpus import gen_pages_spark
    from searchengine_spark.sources.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "stopped"))
    real_commit = TableIO._commit_files
    real_manifest = TableIO.write_manifest

    def stop_before_move(self, df, table, *a):
        if table == "site_stats":
            raise InterruptedError("build stopped by user")
        return real_commit(self, df, table, *a)

    def stop_before_swap(self, result):
        if result.stage == "terms" and result.status == "complete":
            raise InterruptedError("build stopped by user")
        return real_manifest(self, result)

    def listed(t):
        return {f["path"]
                for f in (io.read_manifest(t) or {}).get("files", [])}

    def on_disk(t):
        return {os.path.relpath(fp, io.work_dir)
                for fp in io._parquet_files(io.path(t))}

    def side_dirs():
        return [d for d in os.listdir(io.work_dir) if d.startswith("_tmp_")]

    pages = gen_pages_spark(spark, 40, partitions=2)
    monkeypatch.setattr(TableIO, "_commit_files", stop_before_move)
    monkeypatch.setattr(TableIO, "write_manifest", stop_before_swap)
    with pytest.raises(InterruptedError):
        IndexBuilder(spark, io).build(pages)
    monkeypatch.undo()
    assert on_disk("terms") and not listed("terms")
    assert side_dirs() == []

    IndexBuilder(spark, io).build(pages, resume=True)
    for t in TABLES:
        assert io.stage_complete(t), t
        assert on_disk(t) == listed(t), t
    assert side_dirs() == []


@pytest.fixture()
def inc_engine(spark, tmp_path_factory):
    from searchengine_spark.plans.api import SearchEngine
    from searchengine_spark.sources.corpus import gen_pages_spark

    work = str(tmp_path_factory.mktemp("inc_work"))
    eng = SearchEngine(spark, work)
    eng.build_index(gen_pages_spark(spark, N, partitions=4))
    yield eng
    shutil.rmtree(work, ignore_errors=True)


def _oracle_for(pages):
    from searchengine_spark import oracle as O

    return O.build_index(pages)


def test_upsert_docs_matches_oracle(inc_engine, spark):
    from searchengine_spark import oracle as O
    from searchengine_spark.sources.corpus import gen_pages_local

    base = gen_pages_local(N)
    # change 3 pages' content (reuse other pages' html) + add 2 new pages
    extra = gen_pages_local(N + 2)[-2:]
    changed = [dict(base[5], html=base[50]["html"], text=base[50]["text"]),
               dict(base[17], html=base[60]["html"], text=base[60]["text"]),
               dict(base[33], html=base[70]["html"], text=base[70]["text"]),
               *extra]
    pdf = spark.createDataFrame(
        [(c["url"], c["warc_ts"], c["html"], c["text"], c["lang"])
         for c in changed],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    inc_engine.upsert_docs(pdf)

    edited = {p["url"]: p for p in base}
    for c in changed:
        edited[c["url"]] = c
    idx = _oracle_for(list(edited.values()))

    assert _terms_snapshot(inc_engine) == {
        t: (idx.df[t], idx.cf[t]) for t in idx.df}
    q = "леопард обитает"
    want = O.search(idx, q, limit=10)
    got = inc_engine.search(q, limit=10)
    assert got["result"] == want["result"]
    if want["result"]:
        # doc_ids are STABLE across upserts (the oracle, rebuilt from
        # scratch, reassigns them) — compare by url + score instead
        assert sorted((h["uri"], round(h["score"], 6)) for h in got["data"]) \
            == sorted((h["uri"], round(h["score"], 6)) for h in want["data"])


def test_upsert_is_partition_scoped(inc_engine, spark):
    """An upsert must replace exactly the postings files holding an
    affected term_bucket and leave every other file byte-untouched (same
    files, same mtimes), keep doc_ids stable, and all three query
    strategies must agree afterwards."""
    from searchengine_spark.sources.corpus import gen_pages_local

    io = inc_engine.io
    held = {f["path"].split(os.sep)[-1]: set(f["buckets"])
            for f in io.read_manifest("postings")["files"]}
    before = _part_files(io, "postings")
    ids_before = {r["url"]: r["doc_id"]
                  for r in io.read("docs").select("url", "doc_id").collect()}

    base = gen_pages_local(N)
    victim = dict(base[9], html=base[40]["html"], text=base[40]["text"])
    pdf = spark.createDataFrame(
        [(victim["url"], victim["warc_ts"], victim["html"], victim["text"],
          victim["lang"])],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    report = inc_engine.upsert_docs(pdf)
    affected = set(report["affected_buckets"])
    assert 0 < len(affected) < 64  # scoped, not a full rebuild

    after = _part_files(io, "postings")
    for rel, buckets in held.items():
        if buckets & affected:
            assert rel not in after, f"{rel} holds affected buckets"
        else:
            assert after.get(rel) == before[rel], f"untouched {rel} changed"

    ids_after = {r["url"]: r["doc_id"]
                 for r in io.read("docs").select("url", "doc_id").collect()}
    assert ids_after == ids_before  # same url set => identical stable ids

    q = "леопард обитает"
    exact = inc_engine.search(q, limit=10)
    for strategy in ("wand", "driver"):
        alt = inc_engine.search(q, limit=10, strategy=strategy)
        assert alt["result"] == exact["result"]
        if exact["result"]:
            assert [h["doc_id"] for h in alt["data"]] == \
                   [h["doc_id"] for h in exact["data"]]
            assert all(abs(a["score"] - b["score"]) < 1e-6
                       for a, b in zip(alt["data"], exact["data"]))


def _part_files(io, table):
    out = {}
    base = io.path(table)
    for root, _, fs in os.walk(base):
        for fn in fs:
            if fn.endswith(".parquet"):
                fp = os.path.join(root, fn)
                out[os.path.relpath(fp, base)] = os.path.getmtime(fp)
    return out


def test_upsert_docs_rewrite_is_bucket_scoped(inc_engine, spark):
    """The docs table is url_bucket-clustered: an upsert of one url must
    replace only the file holding that url's bucket (byte-level mtime
    check on every other file)."""
    from searchengine_spark import oracle as O
    from searchengine_spark.sources.corpus import gen_pages_local

    io = inc_engine.io
    before = _part_files(io, "docs")
    held = {f["path"].split(os.sep)[-1]: set(f["buckets"])
            for f in io.read_manifest("docs")["files"]}
    base = gen_pages_local(N)
    victim = dict(base[21], html=base[55]["html"], text=base[55]["text"])
    pdf = spark.createDataFrame(
        [(victim["url"], victim["warc_ts"], victim["html"], victim["text"],
          victim["lang"])],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    inc_engine.upsert_docs(pdf)

    vb = O.url_bucket(victim["url"], inc_engine.cfg.doc_id_buckets)
    after = _part_files(io, "docs")
    assert len(before) > 1
    gone = {rel for rel in before if after.get(rel) != before[rel]}
    assert gone == {rel for rel, buckets in held.items() if vb in buckets}
    new = [f for f in io.read_manifest("docs")["files"]
           if f["path"].split(os.sep)[-1] not in before]
    assert len(new) == 1 and vb in new[0]["buckets"]
    # and the new text is served
    from searchengine_spark.functions.text_core import extract_text

    texts = {r["url"]: r["text"]
             for r in io.read("docs").select("url", "text").collect()}
    assert texts[victim["url"]] == extract_text(victim["html"].decode("utf-8"))


def test_crash_between_commits_is_resumable(inc_engine, spark, monkeypatch):
    """Kill the delta apply between the postings and docs commits: the docs
    table must still serve its OLD snapshot, build_status must be FAILED
    (never a silent INDEXED mix), and resume_upsert() must replay the
    staged delta to the exact state a clean upsert produces."""
    import pytest as _pytest

    from searchengine_spark.streaming import incremental as inc
    from searchengine_spark.sources.corpus import gen_pages_local

    io = inc_engine.io
    base = gen_pages_local(N)
    victim = dict(base[11], html=base[45]["html"], text=base[45]["text"])
    extra = gen_pages_local(N + 1)[-1:]  # plus one brand-new url
    changed = [victim, *extra]
    pdf = spark.createDataFrame(
        [(c["url"], c["warc_ts"], c["html"], c["text"], c["lang"])
         for c in changed],
        "url string, warc_ts timestamp, html binary, text string, lang string")

    old_texts = {r["url"]: r["text"]
                 for r in io.read("docs").select("url", "text").collect()}
    real_commit = inc._commit_docs

    def boom(*a, **k):
        raise RuntimeError("injected crash before docs commit")

    monkeypatch.setattr(inc, "_commit_docs", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        inc_engine.upsert_docs(pdf)

    status = io.read_meta("build_status")
    assert status["status"] == "FAILED" and status["stage"] == "delta"
    assert inc.has_pending_delta(io)
    # old docs snapshot intact (postings may already be new — the FAILED
    # status + pending marker make the mix detectable and repairable)
    now_texts = {r["url"]: r["text"]
                 for r in io.read("docs").select("url", "text").collect()}
    assert now_texts == old_texts

    monkeypatch.setattr(inc, "_commit_docs", real_commit)
    report = inc_engine.resume_upsert()
    assert report is not None and not inc.has_pending_delta(io)
    assert io.read_meta("build_status")["status"] == "INDEXED"

    # end state == oracle on the edited page set
    edited = {p["url"]: p for p in base}
    for c in changed:
        edited[c["url"]] = c
    idx = _oracle_for(list(edited.values()))
    assert _terms_snapshot(inc_engine) == {
        t: (idx.df[t], idx.cf[t]) for t in idx.df}
    urls = {r["url"] for r in io.read("docs").select("url").collect()}
    assert extra[0]["url"] in urls and len(urls) == N + 1
    # resume_upsert with nothing pending is a no-op
    assert inc_engine.resume_upsert() is None


def test_remove_page_df_decrement(inc_engine):
    """Removing one page decrements df for exactly its lemmas and deletes
    zero-df terms (the reference's removePageDataFromBD math, recomputed
    declaratively)."""
    from searchengine_spark.sources.corpus import gen_pages_local

    base = gen_pages_local(N)
    victim = base[7]
    inc_engine.remove_page(victim["url"])
    idx = _oracle_for([p for p in base if p["url"] != victim["url"]])
    assert _terms_snapshot(inc_engine) == {
        t: (idx.df[t], idx.cf[t]) for t in idx.df}
    urls = {r["url"] for r in inc_engine.io.read("docs").select("url").collect()}
    assert victim["url"] not in urls and len(urls) == N - 1


def test_incremental_invalidates_observed_corpus_totals(inc_engine):
    """The full build records Σcf/Σdf as observed metrics on the terms
    write (plans/build.py::_stage_terms); any incremental terms rewrite
    must null them so stats re-aggregates — stale totals would silently
    skew avgdl and every BM25 score after an upsert/remove."""
    import pyspark.sql.functions as F

    from searchengine_spark.sources.corpus import gen_pages_local

    ex0 = inc_engine.io.read_manifest("terms")["extra"]
    assert ex0["total_tokens"] > 0 and ex0["n_postings"] > 0

    inc_engine.remove_page(gen_pages_local(N)[3]["url"])

    ex1 = inc_engine.io.read_manifest("terms")["extra"]
    assert ex1["total_tokens"] is None and ex1["n_postings"] is None
    # stats re-derived from the live terms table, not the stale totals
    agg = (inc_engine.io.read("terms")
           .agg(F.sum("cf").alias("tt"), F.sum("df").alias("np")).first())
    stats = inc_engine.io.read_meta("stats")
    assert stats["total_tokens"] == int(agg["tt"])
    assert stats["n_postings"] == int(agg["np"])
    assert stats["total_tokens"] < ex0["total_tokens"]


def test_observed_head_terms_match_direct_and_are_invalidated(
        spark, tmp_path_factory):
    """Head terms (df > salt_df_threshold) also ride the terms write as an
    observed collect_list (plans/build.py::_stage_terms) and feed
    _stage_blocks without its own collect job; they must equal the direct
    computation and be nulled by any incremental terms rewrite — a stale
    head list would leave a newly-hot term unsharded (skew) or keep
    sharding a term that shrank. Threshold forced low so the fixture
    corpus actually has head terms (empty==empty proves nothing)."""
    import pyspark.sql.functions as F

    from searchengine_spark.config import EngineConfig
    from searchengine_spark.plans.api import SearchEngine
    from searchengine_spark.sources.corpus import gen_pages_local, gen_pages_spark

    work = str(tmp_path_factory.mktemp("headterms_work"))
    eng = SearchEngine(spark, work,
                       cfg=EngineConfig(salt_df_threshold=20))
    try:
        eng.build_index(gen_pages_spark(spark, N, partitions=4))

        ex0 = eng.io.read_manifest("terms")["extra"]
        direct = sorted(
            r["term"] for r in eng.io.read("terms")
            .filter(F.col("df") > 20).select("term").collect())
        assert len(direct) > 0
        assert ex0["head_terms"] == direct
        assert ex0["head_df_threshold"] == 20
        assert sorted(eng.io.read_manifest("blocks")["extra"]
                      ["head_terms"]) == direct

        eng.remove_page(gen_pages_local(N)[4]["url"])

        ex1 = eng.io.read_manifest("terms")["extra"]
        assert ex1["head_terms"] is None \
            and ex1["head_df_threshold"] is None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_pending_delta_blocks_serving_and_dead_lock_is_taken_over(
        inc_engine, spark):
    """(1) A pending (interrupted) delta must refuse queries — per-table
    manifests are complete in that state, so only the marker can catch the
    mixed snapshot. (2) A commit lock left by a DEAD writer (hard crash)
    must be taken over immediately: vacuum must not skip cleanup or
    spin for the stale window."""
    import json
    import subprocess
    import sys

    import pytest as _pytest

    from searchengine_spark.streaming import incremental as inc

    io = inc_engine.io
    # (1) fake a pending delta marker
    root = inc._delta_path(io)
    os.makedirs(root, exist_ok=True)
    with open(inc._delta_path(io, "pending.json"), "w") as f:
        json.dump({"has_changed": False}, f)
    inc_engine._query_engine = None  # force a fresh QueryEngine
    with _pytest.raises(RuntimeError, match="resume_upsert"):
        inc_engine.search("леопард обитает")
    shutil.rmtree(root, ignore_errors=True)
    inc_engine._query_engine = None
    assert inc_engine.search("леопард обитает")["result"] in (True, False)

    # (2) dead-writer lock: pid of an already-exited child
    child = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                           capture_output=True, text=True)
    dead_pid = int(child.stdout.strip())
    lock = os.path.join(io.work_dir, "_commit.lock")
    with open(lock, "w") as f:
        f.write(str(dead_pid))
    assert io.vacuum("postings") >= 0  # taken over at once: no skip
    assert not os.path.exists(lock)  # stale lock was taken over + released

    # a LIVE holder (this process) is honored: non-blocking vacuum skips
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    # create debris that an (incorrectly) running vacuum would delete
    debris = os.path.join(io.path("postings"),
                          "gen-deadbeef-part-debris.parquet")
    os.makedirs(os.path.dirname(debris), exist_ok=True)
    with open(debris, "wb") as f:
        f.write(b"not-a-parquet")
    assert io.vacuum("postings") == 0  # skipped: live lock held
    assert os.path.exists(debris)
    os.remove(lock)
    assert io.vacuum("postings") >= 1  # lock free: debris removed
    assert not os.path.exists(debris)


def _pages_df(spark, pages):
    return spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
         for p in pages],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def test_warm_upsert_cycles_keep_persisted_rdds_constant(inc_engine, spark):
    """warm -> upsert -> warm -> upsert -> warm: an upsert replaces the
    query engine, and the replaced engine's warm frames (the old
    snapshot) are unpersisted, so the persisted-RDD count stays
    constant instead of growing by one table set per cycle."""
    from searchengine_spark.sources.corpus import gen_pages_local

    jsc = spark.sparkContext._jsc
    # count only RDDs persisted from here on: other tests' cached frames
    # may be cleaned up by the JVM at any moment
    before = set(jsc.getPersistentRDDs())
    base = gen_pages_local(N)
    counts = []
    try:
        for i in range(3):
            inc_engine.warm()
            counts.append(len(set(jsc.getPersistentRDDs()) - before))
            if i < 2:
                inc_engine.upsert_docs(_pages_df(spark, [dict(
                    base[i], html=base[60 + i]["html"],
                    text=base[60 + i]["text"])]))
    finally:
        inc_engine._drop_query_engine()
    assert counts[0] == counts[1] == counts[2], counts
    # the upserts ran with AQE scoped off and restored the session's value
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_serving_reads_the_snapshot_not_the_directory(inc_engine):
    """Copies of a live blocks file and a live docs file under new names
    in their table directories — what an interrupted commit leaves
    behind — are in no manifest, so the driver path's answers and
    counts equal exact ones, both cold and after warm()."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    io = inc_engine.io
    n = inc_engine.query_engine.stats["n_docs"]
    term = (io.read("terms").filter(F.col("df") / F.lit(float(n)) <= 0.95)
            .orderBy(F.col("df").desc(), F.col("term"))
            .select("term").first()["term"])
    hit = inc_engine.search(term, limit=5)["data"][0]["doc_id"]

    def copy_live(table, column, value):
        for f in io.read_manifest(table)["files"]:
            live = os.path.join(io.work_dir, f["path"])
            if value in pq.read_table(live, columns=[column])[column] \
                    .to_pylist():
                shutil.copy(live, os.path.join(
                    os.path.dirname(live),
                    "gen-deadbeef-" + os.path.basename(live)))
                return
        raise AssertionError(f"no live {table} file holds {value!r}")

    copy_live("blocks", "term", term)
    copy_live("docs", "doc_id", hit)

    def check():
        for q in (term, "леопард обитает"):
            exact = inc_engine.search(q, limit=5)
            driver = inc_engine.search(q, limit=5, strategy="driver")
            assert driver["result"] == exact["result"], q
            if exact["result"]:
                assert driver["count"] == exact["count"], q
                assert [(h["doc_id"], h["uri"], round(h["score"], 9))
                        for h in driver["data"]] == \
                    [(h["doc_id"], h["uri"], round(h["score"], 9))
                     for h in exact["data"]], q

    check()
    inc_engine.warm()
    try:
        check()
    finally:
        inc_engine._drop_query_engine()


def test_remove_site_cascade(inc_engine):
    from searchengine_spark import oracle as O
    from searchengine_spark.sources.corpus import gen_pages_local

    base = gen_pages_local(N)
    site = O.site_of(base[0]["url"])
    inc_engine.remove_site(site)
    kept = [p for p in base if O.site_of(p["url"]) != site]
    assert 0 < len(kept) < N
    idx = _oracle_for(kept)
    docs = inc_engine.io.read("docs")
    assert docs.count() == len(kept)
    assert _terms_snapshot(inc_engine) == {
        t: (idx.df[t], idx.cf[t]) for t in idx.df}


def test_refresh_blocks_retightens_stale_bounds(inc_engine, spark):
    """After any delta the blocks manifest's avgdl is None (WAND falls back
    to the looser avgdl-free max_tf bound); refresh_blocks() must re-encode
    blocks with the CURRENT avgdl + head-term set WITHOUT touching docs or
    postings, keep WAND rank-identical to exact, and refuse while a staged
    delta is pending."""
    from searchengine_spark.sources.corpus import gen_pages_local
    from searchengine_spark.streaming.incremental import _delta_path

    io = inc_engine.io
    base = gen_pages_local(N)
    changed = [dict(base[5], html=base[50]["html"], text=base[50]["text"])]
    pdf = spark.createDataFrame(
        [(c["url"], c["warc_ts"], c["html"], c["text"], c["lang"])
         for c in changed],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    inc_engine.upsert_docs(pdf)
    assert io.read_manifest("blocks")["extra"]["avgdl"] is None  # stale

    q = "леопард обитает"
    exact = inc_engine.search(q, limit=10, with_snippets=False)
    docs_m = io.read_manifest("docs")
    post_m = io.read_manifest("postings")

    # refusal while a delta is staged (postings snapshot would be ambiguous)
    os.makedirs(_delta_path(io), exist_ok=True)
    with open(_delta_path(io, "pending.json"), "w") as f:
        f.write("{}")
    with pytest.raises(RuntimeError, match="pending"):
        inc_engine.refresh_blocks()
    shutil.rmtree(_delta_path(io))

    rep = inc_engine.refresh_blocks()
    assert rep["status"] == "complete" and rep["rows"] > 0
    bm = io.read_manifest("blocks")["extra"]
    stats = io.read_meta("stats")
    assert bm["avgdl"] is not None
    assert abs(bm["avgdl"] - stats["avgdl"]) < 1e-9
    # blocks-only: docs/postings snapshots byte-identical (same manifests)
    assert io.read_manifest("docs") == docs_m
    assert io.read_manifest("postings") == post_m
    assert io.read_meta("build_status")["status"] == "INDEXED"

    wand = inc_engine.search(q, limit=10, strategy="wand",
                             count_mode="none", with_snippets=False)
    assert [ (h["uri"], round(h["score"], 6)) for h in wand["data"] ] \
        == [ (h["uri"], round(h["score"], 6)) for h in exact["data"] ]


@pytest.mark.parametrize("seed", [1, 7])
def test_random_op_sequence_equals_fresh_build(spark, tmp_path_factory, seed):
    """Convergence property for the incremental MERGE protocol: ANY
    interleaved sequence of upserts (modify + add) and removals must leave
    the index equal to a from-scratch build over the FINAL page set —
    same terms table (df/cf) and rank-identical search results (compared
    by url+score: doc_ids are stable under increments but reassigned by a
    fresh build). Deterministic pseudo-random sequences, two seeds."""
    import random

    from searchengine_spark import oracle as O
    from searchengine_spark.plans.api import SearchEngine
    from searchengine_spark.sources.corpus import gen_pages_local

    rng = random.Random(seed)
    base = gen_pages_local(N)
    extra_pool = gen_pages_local(N + 20)[N:]  # deterministic fresh urls

    work = str(tmp_path_factory.mktemp(f"seq{seed}"))
    eng = SearchEngine(spark, work)
    live = {p["url"]: p for p in base}

    def to_df(pages):
        return spark.createDataFrame(
            [(c["url"], c["warc_ts"], c["html"], c["text"], c["lang"])
             for c in pages],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string")

    eng.build_index(to_df(list(live.values())))

    for _ in range(4):
        op = rng.choice(["upsert", "remove_page", "upsert", "remove_site"])
        if op == "upsert":
            batch = []
            for _ in range(rng.randint(1, 3)):  # modify existing
                victim = rng.choice(sorted(live))
                donor = rng.choice(base)
                batch.append(dict(live[victim], html=donor["html"],
                                  text=donor["text"]))
            if extra_pool and rng.random() < 0.7:  # add fresh
                batch.append(extra_pool.pop(0))
            eng.upsert_docs(to_df(batch))
            for c in batch:
                live[c["url"]] = c
        elif op == "remove_page":
            victim = rng.choice(sorted(live))
            eng.remove_page(victim)
            del live[victim]
        else:  # remove_site — only if >1 site remains afterwards
            sites = sorted({O.site_of(u) for u in live})
            if len(sites) < 2:
                continue
            site = rng.choice(sites)
            eng.remove_site(site)
            live = {u: p for u, p in live.items() if O.site_of(u) != site}

    idx = _oracle_for(list(live.values()))
    assert _terms_snapshot(eng) == {t: (idx.df[t], idx.cf[t])
                                    for t in idx.df}
    assert eng.io.read("docs").count() == len(live)
    for q in ("леопард обитает", "осетии"):
        want = O.search(idx, q, limit=10)
        got = eng.search(q, limit=10)
        assert got["result"] == want["result"]
        if want["result"]:
            assert sorted((h["uri"], round(h["score"], 6))
                          for h in got["data"]) == \
                sorted((h["uri"], round(h["score"], 6))
                       for h in want["data"])


def _side_dirs(io):
    """Upsert/remove side directories in the work dir: the delta staging
    and the table writes' side directories."""
    return sorted(d for d in os.listdir(io.work_dir)
                  if d.startswith(("_delta", "_staged", "_tmp_")))


def test_upsert_refuses_a_batch_that_repeats_a_url(inc_engine, spark,
                                                   monkeypatch):
    """A batch holding one existing url twice and one new url twice is
    refused before its delta is staged: a ValueError names a repeated
    url, and the index, its status and its work dir are as before — no
    pending marker, no side directory, and search answers. A batch whose
    staging fails midway leaves no side directory either."""
    from searchengine_spark.sources.corpus import gen_pages_local
    from searchengine_spark.streaming import incremental as inc

    io = inc_engine.io
    q = "леопард обитает"
    before = inc_engine.search(q, limit=10)
    base = gen_pages_local(N)
    old = dict(base[8], html=base[44]["html"], text=base[44]["text"])
    new = gen_pages_local(N + 1)[-1]
    with pytest.raises(ValueError, match="|".join(
            re.escape(p["url"]) for p in (old, new))):
        inc_engine.upsert_docs(_pages_df(spark, [old, new, old, new]))

    def untouched():
        assert not inc.has_pending_delta(io)
        assert _side_dirs(io) == []
        assert io.read_meta("build_status")["status"] == "INDEXED"
        assert io.read("docs").count() == N
        assert inc_engine.search(q, limit=10) == before

    untouched()

    def boom(*a, **k):
        raise RuntimeError("injected failure while staging")

    monkeypatch.setattr(inc, "tokens_from_docs", boom)
    with pytest.raises(RuntimeError, match="injected failure"):
        inc_engine.upsert_docs(_pages_df(spark, [old, new]))
    untouched()


def test_upsert_and_remove_report_the_delta_phase(inc_engine, spark):
    """The report of an upsert and of a removal carries the staging
    phase's record: its wall and the affected term and url buckets."""
    from searchengine_spark import oracle as O
    from searchengine_spark.sources.corpus import gen_pages_local

    base = gen_pages_local(N)
    batch = [dict(base[2], html=base[52]["html"], text=base[52]["text"]),
             gen_pages_local(N + 1)[-1]]
    n_b = inc_engine.cfg.doc_id_buckets
    for report, urls in (
            (inc_engine.upsert_docs(_pages_df(spark, batch)),
             [p["url"] for p in batch]),
            (inc_engine.remove_page(base[9]["url"]), [base[9]["url"]])):
        delta = report["delta"]
        assert set(delta) == {"wall_ms", "affected_buckets", "doc_buckets"}
        assert isinstance(delta["wall_ms"], int) and delta["wall_ms"] > 0
        assert delta["affected_buckets"] == report["affected_buckets"]
        assert delta["affected_buckets"]
        assert delta["doc_buckets"] == sorted(
            {O.url_bucket(u, n_b) for u in urls})


def test_resume_after_staging_tokenizes_nothing(inc_engine, spark,
                                                monkeypatch):
    """A crash just after pending.json is written leaves the whole delta
    staged: resume_upsert() applies it with the tokenizer unavailable
    (the apply reads the staged postings and the marker's buckets) and
    reaches the oracle's state on the edited page set."""
    from searchengine_spark import oracle as O
    from searchengine_spark.plans import build
    from searchengine_spark.sources.corpus import gen_pages_local
    from searchengine_spark.streaming import incremental as inc

    io = inc_engine.io
    base = gen_pages_local(N)
    changed = [dict(base[13], html=base[47]["html"], text=base[47]["text"]),
               *gen_pages_local(N + 2)[-2:]]

    def crash(*a, **k):
        raise RuntimeError("injected crash after staging")

    monkeypatch.setattr(inc, "apply_staged_delta", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc_engine.upsert_docs(_pages_df(spark, changed))
    monkeypatch.undo()
    assert inc.has_pending_delta(io)

    def no_tokenizer(*a, **k):
        raise AssertionError("the apply tokenized")

    monkeypatch.setattr(inc, "tokens_from_docs", no_tokenizer)
    monkeypatch.setattr(build, "tokens_from_docs", no_tokenizer)
    report = inc_engine.resume_upsert()
    assert report is not None and not inc.has_pending_delta(io)
    assert io.read_meta("build_status")["status"] == "INDEXED"

    edited = {p["url"]: p for p in base}
    for c in changed:
        edited[c["url"]] = c
    idx = _oracle_for(list(edited.values()))
    assert _terms_snapshot(inc_engine) == {
        t: (idx.df[t], idx.cf[t]) for t in idx.df}
    urls = {r["url"] for r in io.read("docs").select("url").collect()}
    assert urls == set(edited)
    q = "леопард обитает"
    want = O.search(idx, q, limit=10)
    got = inc_engine.search(q, limit=10)
    assert got["result"] == want["result"]
    if want["result"]:
        assert sorted((h["uri"], round(h["score"], 6)) for h in got["data"]) \
            == sorted((h["uri"], round(h["score"], 6)) for h in want["data"])


def test_pending_delta_without_recorded_buckets_is_refused(inc_engine):
    """A pending.json in the layout of an engine that probed the affected
    buckets at apply time records none: replaying it is refused with a
    message saying so, and a new upsert/remove is refused while it is
    pending. Nothing is replayed and the marker stays."""
    import json

    from searchengine_spark.sources.corpus import gen_pages_local
    from searchengine_spark.streaming import incremental as inc

    io = inc_engine.io
    os.makedirs(inc._delta_path(io), exist_ok=True)
    schema = io.read("docs").select(*inc.DOC_COLS).schema.jsonValue()
    with open(inc._delta_path(io, "pending.json"), "w") as f:
        json.dump({"schemas": {"touched": schema, "changed": schema}}, f)
    with pytest.raises(RuntimeError, match="records no affected buckets"):
        inc_engine.resume_upsert()
    with pytest.raises(RuntimeError, match="resume_upsert"):
        inc_engine.remove_page(gen_pages_local(N)[0]["url"])
    assert inc.has_pending_delta(io)
    assert io.read_meta("build_status")["status"] == "INDEXED"
