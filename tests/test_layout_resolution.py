"""Regression tests for layout-parameter resolution and response-shape
parity across query strategies.

An index carries its own layout (term bucket count, head-term shard width,
block size) in the stage manifests; query paths must read THAT, not live
config — an index built with term_buckets=8 queried under a cfg that says
64 would prune to the wrong partitions and silently return nothing.
"""

import shutil
from contextlib import contextmanager

import pytest
from conftest import job_group

from searchengine_spark.config import EngineConfig
from searchengine_spark.plans.api import SearchEngine
from searchengine_spark.plans.query import QueryEngine
from searchengine_spark.sources.corpus import gen_pages_spark
from searchengine_spark.sources.tableio import (FORMAT_VERSION, TableIO,
                                                resolve_layout)

N_DOCS = 120


@pytest.fixture(scope="module")
def small_bucket_engine(spark, tmp_path_factory):
    """Index built with a deliberately non-default layout."""
    work = str(tmp_path_factory.mktemp("layout_work"))
    cfg = EngineConfig(term_buckets=8, block_size=32)
    eng = SearchEngine(spark, work, cfg)
    eng.build_index(gen_pages_spark(spark, N_DOCS, partitions=4))
    yield eng, work
    shutil.rmtree(work, ignore_errors=True)


def _a_query(eng) -> str:
    # pick a term guaranteed indexed: highest-df non-stopword
    from pyspark.sql import functions as F

    terms = eng.io.read("terms")
    n = eng.query_engine.stats["n_docs"]
    row = (terms.filter(F.col("df") / F.lit(float(n)) <= 0.95)
                .orderBy(F.col("df").desc(), F.col("term"))
                .select("term").first())
    return row["term"]


def test_resolve_layout_prefers_manifest(spark, small_bucket_engine):
    eng, work = small_bucket_engine
    io = TableIO(spark, work)
    resolved = resolve_layout(io, EngineConfig())  # default cfg says 64
    assert resolved.term_buckets == 8
    assert resolved.block_size == 32


def test_resolve_layout_falls_back_to_cfg(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "empty"))
    cfg = EngineConfig(term_buckets=16)
    assert resolve_layout(io, cfg).term_buckets == 16


def test_query_engine_reads_foreign_layout_index(spark, small_bucket_engine):
    """QueryEngine built under DEFAULT cfg must still answer over the
    8-bucket index (exact, wand, and driver strategies)."""
    eng, work = small_bucket_engine
    io = TableIO(spark, work)
    qe = QueryEngine(spark, io)  # no cfg: defaults say term_buckets=64
    assert qe.cfg.term_buckets == 8
    q = _a_query(eng)
    for strategy in ("exact", "wand", "driver"):
        r = qe.search(q, limit=5, strategy=strategy)
        assert r["result"] is True, (strategy, r)
        assert r["count"] > 0 and len(r["data"]) > 0


def test_offset_past_end_shape_parity(small_bucket_engine):
    """All strategies must agree on the offset-past-last-hit response:
    result=True, full count, empty data (not ERR_NOT_FOUND)."""
    eng, _ = small_bucket_engine
    q = _a_query(eng)
    base = eng.search(q, limit=5, strategy="exact")
    assert base["result"] is True and base["count"] > 0
    far = base["count"] + 100
    responses = {s: eng.search(q, limit=5, offset=far, strategy=s)
                 for s in ("exact", "wand", "driver")}
    for s, r in responses.items():
        assert r["result"] is True, (s, r)
        assert r["count"] == base["count"], (s, r)
        assert r["data"] == [], (s, r)


def test_warm_returns_pinned_tables(spark, small_bucket_engine):
    eng, work = small_bucket_engine
    qe = QueryEngine(spark, TableIO(spark, work))
    pinned = qe.warm()
    assert set(pinned) == {"postings", "blocks", "docs"}


def test_block_id_sequential_across_batches(spark, small_bucket_engine):
    """(term, shard, block_id) must be unique with block_id dense from 0
    even when a posting run spans Arrow batch boundaries."""
    from pyspark.sql import functions as F

    eng, work = small_bucket_engine
    io = TableIO(spark, work)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        # tiny batches force every long run to span many batches
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
        from searchengine_spark.operators.postings import build_blocks

        cfg = eng.cfg
        postings = io.read("postings")
        blocks = build_blocks(postings, [], 10.0, cfg).select(
            "term", "shard", "block_id").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    seen: dict[tuple, list[int]] = {}
    for r in blocks:
        seen.setdefault((r["term"], r["shard"]), []).append(r["block_id"])
    assert len(blocks) == sum(len(v) for v in seen.values())
    for key, ids in seen.items():
        assert sorted(ids) == list(range(len(ids))), (key, sorted(ids)[:5])


def _live_files(io, table):
    import os

    return [os.path.join(io.work_dir, f["path"])
            for f in io.read_manifest(table)["files"]]


def _assert_ordered(path, columns):
    """The rows of a parquet file are strictly ascending in `columns`."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=columns)
    rows = list(zip(*(t[c].to_pylist() for c in columns)))
    assert rows and all(a < b for a, b in zip(rows, rows[1:])), \
        f"file {path} not {tuple(columns)}-ordered"


def test_postings_files_are_term_doc_sorted(small_bucket_engine):
    """Every postings FILE must be (term_bucket, term, doc_id)-ordered:
    each bucket is a (term, doc_id) run, which the exchange-free blocks
    encoder consumes directly and parquet row-group min/max pruning
    needs."""
    eng, _ = small_bucket_engine
    assert eng.io.read_manifest("postings")["format_version"] == FORMAT_VERSION
    for f in _live_files(eng.io, "postings"):
        _assert_ordered(f, ["term_bucket", "term", "doc_id"])


def test_presorted_blocks_match_repartition_path(small_bucket_engine):
    """The exchange-free blocks path (file-ordered scan straight into the
    encoder) must produce the exact block set — including block_id — that
    encoding an explicitly shuffled and sorted postings frame produces
    (every term's postings in one partition, (term, doc_id)-ordered)."""
    from searchengine_spark.operators.postings import build_blocks

    eng, _ = small_bucket_engine
    stats = eng.io.read_meta("stats")
    head = eng.io.read_manifest("blocks")["extra"]["head_terms"]

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    shuffled = (eng.io.read("postings")
                .repartition(eng.cfg.term_buckets, "term")
                .sortWithinPartitions("term", "doc_id"))
    alt = build_blocks(shuffled, head, stats["avgdl"], eng.cfg)
    table = eng.io.read("blocks").drop("term_bucket")
    assert snap(table) == snap(alt.select(*table.columns))


def test_presorted_blocks_plan_has_no_exchange(small_bucket_engine):
    """The full-build blocks stage must not shuffle posting rows: scan ->
    encode, no Exchange operator anywhere in the plan."""
    from searchengine_spark.operators.postings import build_blocks

    eng, _ = small_bucket_engine
    stats = eng.io.read_meta("stats")
    head = eng.io.read_manifest("blocks")["extra"]["head_terms"]
    plan = (build_blocks(eng.io.read("postings"), head, stats["avgdl"],
                         eng.cfg)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan


def test_incremental_rewrite_keeps_file_sorted_contract(spark, tmp_path):
    """An upsert replaces the files holding touched postings/docs buckets;
    the rewritten files must keep the layout contracts the exchange-free
    encoder and the serving point-reads rely on: postings files stay
    (term_bucket, term, doc_id)-ordered (the manifest keeps the current
    format version), docs files (url_bucket, doc_id)-ordered."""
    from searchengine_spark.sources.corpus import gen_pages_local

    work = str(tmp_path / "inc_sorted")
    eng = SearchEngine(spark, work, EngineConfig(term_buckets=8))
    eng.build_index(gen_pages_spark(spark, N_DOCS, partitions=4))

    base = gen_pages_local(N_DOCS)
    extra = gen_pages_local(N_DOCS + 2)[-2:]
    changed = [dict(base[5], html=base[50]["html"], text=base[50]["text"]),
               *extra]
    pdf = spark.createDataFrame(
        [(c["url"], c["warc_ts"], c["html"], c["text"], c["lang"])
         for c in changed],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    eng.upsert_docs(pdf)

    assert eng.io.read_manifest("postings")["format_version"] \
        == FORMAT_VERSION
    for table, order in (("postings", ["term_bucket", "term", "doc_id"]),
                         ("docs", ["url_bucket", "doc_id"])):
        gen = [f for f in _live_files(eng.io, table)
               if f.rsplit("/", 1)[1].startswith("gen-")]
        assert gen, f"upsert should have rewritten a {table} file"
        for f in gen:
            _assert_ordered(f, order)


def test_index_in_another_format_is_refused(spark, small_bucket_engine,
                                            tmp_path):
    """An index whose manifests lack the current FORMAT_VERSION (written
    by older code) or carry another one is refused with a rebuild
    instruction wherever it would be read or extended: the query engine,
    an upsert (before it stages anything) and a resumed build."""
    import json
    import os

    _, work = small_bucket_engine
    old = str(tmp_path / "old_format")
    shutil.copytree(work, old)
    mdir = os.path.join(old, "_manifest")

    def set_version(v):
        for fn in os.listdir(mdir):
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            m.pop("format_version", None)
            if v is not None:
                m["format_version"] = v
            with open(os.path.join(mdir, fn), "w") as f:
                json.dump(m, f)

    set_version(None)
    refusal = "rebuild this index with build_index"
    with pytest.raises(RuntimeError, match=refusal):
        QueryEngine(spark, TableIO(spark, old))

    eng = SearchEngine(spark, old)
    pages = gen_pages_spark(spark, 2, partitions=1)
    with pytest.raises(RuntimeError, match=refusal):
        eng.upsert_docs(pages)
    assert not os.path.exists(os.path.join(old, "_delta"))
    assert not os.path.exists(os.path.join(old, "_staged_incoming"))

    with pytest.raises(RuntimeError, match=refusal):
        eng.build_index(pages, resume=True)
    assert eng.io.stage_complete("docs")  # nothing was invalidated

    # format 1 (manifests without a read schema) and a newer format are
    # refused too, by the layout resolution and by a pinned table read
    for version in (1, FORMAT_VERSION + 1):
        set_version(version)
        with pytest.raises(RuntimeError, match=refusal):
            resolve_layout(TableIO(spark, old), EngineConfig())
        with pytest.raises(RuntimeError, match=refusal):
            TableIO(spark, old).read("docs")


def test_manifest_schema_read_equals_inferred_read(spark,
                                                   small_bucket_engine):
    """Every table of a built index read with its manifest's schema (no
    inference job) has the same columns, in the same order and of the
    same types, and the same rows as a schema-inferring read of the same
    pinned files."""
    import os

    _, work = small_bucket_engine
    io = TableIO(spark, work)
    sc = spark.sparkContext
    for table in ("docs", "postings", "terms", "site_stats", "blocks"):
        files = [os.path.join(work, f["path"])
                 for f in io.read_manifest(table)["files"]]
        inferred = (spark.read.option("basePath", io.path(table))
                    .parquet(*files))
        group = f"schema-read-{table}"
        with job_group(sc, group) as jobs:
            pinned = io.read(table)
        assert jobs() == 0, table
        assert pinned.schema == inferred.schema, table
        assert (sorted(pinned.collect(), key=repr)
                == sorted(inferred.collect(), key=repr)), table


def test_replace_buckets_crash_safety(spark, tmp_path):
    """An interrupted file replacement (new-generation files present,
    manifest NOT yet swapped) must leave reads on the OLD snapshot;
    vacuum removes the debris. A replacement drops exactly the files
    holding its buckets and refuses a bucket set that would lose another
    bucket's rows."""
    import os

    from pyspark.sql import functions as F

    io = TableIO(spark, str(tmp_path / "crash"))
    # 4 tasks of 25 ids, each file holding buckets {2i, 2i+1} of pk = id%8
    df = spark.range(0, 100, numPartitions=4).select(
        F.col("id").alias("v"),
        ((F.col("id") / 25).cast("int") * 2 + F.col("id") % 2)
        .cast("int").alias("pk"))
    io.replace_buckets(df, "t", "pk")
    files = io.read_manifest("t")["files"]
    assert [f["buckets"] for f in files] == [[0, 1], [2, 3], [4, 5], [6, 7]]
    assert io.read("t").count() == 100
    assert io.read("t", [1]).count() == 25  # one file pinned
    assert io.rewrite_set("t", [1, 2]) == ([0, 1, 2, 3], 2)

    # simulate the crash: drop a rogue new-generation file into the table
    # dir WITHOUT committing a manifest swap
    victim = os.path.join(io.work_dir, files[0]["path"])
    import shutil
    rogue = os.path.join(io.path("t"), "gen-deadbeef-rogue.parquet")
    shutil.copy(victim, rogue)

    # manifest-pinned read: still exactly the old snapshot (a plain
    # directory read would double-count buckets 0 and 1)
    assert io.read("t").count() == 100
    assert spark.read.parquet(io.path("t")).count() > 100  # the hazard

    assert io.vacuum("t") == 1
    assert not os.path.exists(rogue)
    assert io.read("t").count() == 100

    # a bucket set that splits a file is refused before anything moves
    one = spark.range(0, 5, numPartitions=1).select(
        F.col("id").alias("v"), F.lit(1).cast("int").alias("pk"))
    with pytest.raises(RuntimeError, match="outside the replaced set"):
        io.replace_buckets(one, "t", "pk", [1])
    assert io.read("t").count() == 100

    # a real commit through the protocol: replace the file of buckets
    # {0, 1} by 5 rows of bucket 1
    io.replace_buckets(one, "t", "pk", [0, 1])
    got = io.read("t")
    assert got.count() == 75 + 5
    assert got.filter(F.col("pk") == 1).count() == 5
    assert sorted(f["buckets"] for f in io.read_manifest("t")["files"]) \
        == [[1], [2, 3], [4, 5], [6, 7]]
    # directory agrees after the commit's trailing vacuum
    assert spark.read.parquet(io.path("t")).count() == 80


@contextmanager
def _stage_writes_grouped(sc, op: str):
    """Run every stage write (TableIO.replace_buckets) in its own Spark
    job group "<op>:<stage>"."""
    real = TableIO.replace_buckets

    def grouped(self, df, stage, *a, **kw):
        with job_group(sc, f"{op}:{stage}"):
            return real(self, df, stage, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(TableIO, "replace_buckets", grouped)
        yield


def _write_tasks(sc, group: str) -> int:
    """Task count of the write stage: the last stage of the group's last
    job (earlier jobs and stages are scans and shuffles)."""
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(group))
    return tracker.getStageInfo(
        max(tracker.getJobInfo(last_job).stageIds)).numTasks


@pytest.fixture(scope="module")
def packed_build(spark, tmp_path_factory):
    """A small default-layout (64 term buckets) build whose stage writes
    each run in their own Spark job group ("build:<stage>"). Never warmed:
    a cached postings table would hide the scan's file packing from the
    tests below."""
    work = str(tmp_path_factory.mktemp("packed_work"))
    eng = SearchEngine(spark, work)
    with _stage_writes_grouped(spark.sparkContext, "build"):
        eng.build_index(gen_pages_spark(spark, 60, partitions=4))
    yield eng
    shutil.rmtree(work, ignore_errors=True)


def _packed_batch(spark):
    """packed_build's upsert batch: 3 updated urls and 3 new ones."""
    from searchengine_spark.sources.corpus import gen_pages_local

    base = gen_pages_local(60)
    changed = [dict(base[i], html=base[i + 30]["html"],
                    text=base[i + 30]["text"]) for i in range(3)]
    changed += gen_pages_local(63)[-3:]
    return spark.createDataFrame(
        [(c["url"], c["warc_ts"], c["html"], c["text"], c["lang"])
         for c in changed],
        "url string, warc_ts timestamp, html binary, text string, lang string")


@pytest.fixture(scope="module")
def packed_upsert(spark, packed_build, tmp_path_factory):
    """A copy of packed_build's index with one upsert batch (updated and
    new urls) applied, its stage writes grouped "upsert:<stage>"."""
    work = str(tmp_path_factory.mktemp("packed_upsert") / "w")
    shutil.copytree(packed_build.io.work_dir, work)
    eng = SearchEngine(spark, work)
    with _stage_writes_grouped(spark.sparkContext, "upsert"):
        report = eng.upsert_docs(_packed_batch(spark))
    yield eng, report
    shutil.rmtree(work, ignore_errors=True)


# Spark jobs of one upsert: two staging writes (docs rows, postings rows)
# and the broadcast of the batch's urls, then the apply's rewrites.
UPSERT_JOBS = 13


def test_upsert_starts_a_bounded_number_of_jobs(spark, packed_build,
                                                tmp_path):
    """The packed batch's upsert into a copy of packed_build starts at
    most UPSERT_JOBS Spark jobs: the batch is extracted and tokenized
    once, and the apply neither probes its buckets nor collects them."""
    work = str(tmp_path / "w")
    shutil.copytree(packed_build.io.work_dir, work)
    eng = SearchEngine(spark, work)
    with job_group(spark.sparkContext, "upsert-jobs") as jobs:
        eng.upsert_docs(_packed_batch(spark))
    assert jobs() <= UPSERT_JOBS, jobs()


def test_blocks_write_packs_bucket_files(spark, packed_build):
    """The blocks stage of a build scans the (at most one per core)
    postings files with Spark's default file packing and runs its write
    with at most one task per core — never one per bucket."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tasks = [tracker.getStageInfo(s).numTasks
             for j in tracker.getJobIdsForGroup("build:blocks")
             for s in tracker.getJobInfo(j).stageIds]
    n_files = len(packed_build.io.read_manifest("postings")["files"])
    assert tasks and 1 < n_files <= sc.defaultParallelism
    assert max(tasks) <= sc.defaultParallelism, (tasks, n_files)


def test_bucketed_writes_run_one_task_per_core(spark, packed_build,
                                               packed_upsert):
    """Every term-bucketed write of a build runs min(buckets, cores)
    tasks; every rewrite of an upsert runs one task per file it replaces
    (each bucket stays wholly in one task, so the file count never
    grows)."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    n_buckets = packed_build.cfg.term_buckets
    affected = packed_upsert[1]["affected_buckets"]
    assert len(affected) > cores
    for stage, buckets in (("postings", n_buckets), ("terms", n_buckets),
                           ("site_stats", n_buckets + 1)):
        assert _write_tasks(sc, f"build:{stage}") == min(buckets, cores)
    for stage, buckets in (("postings", affected), ("terms", affected),
                           ("site_stats", [*affected, -1])):
        # packed_build is the upsert's parent snapshot (it ran on a copy)
        _, replaced = packed_build.io.rewrite_set(stage, buckets)
        assert 1 <= replaced <= cores
        assert _write_tasks(sc, f"upsert:{stage}") == replaced, stage


# table -> (bucket column, strict file order)
LAYOUT = {
    "docs": ("url_bucket", ["url_bucket", "doc_id"]),
    "postings": ("term_bucket", ["term_bucket", "term", "doc_id"]),
    "terms": ("term_bucket", None),
    "site_stats": ("term_bucket", None),
    "blocks": ("term_bucket", ["term_bucket", "term", "shard", "doc_min"]),
}


def test_bucketed_tables_are_bucket_clustered_files(spark, packed_build,
                                                    packed_upsert):
    """After a 64-bucket build and after an upsert into it, every bucketed
    table is at most min(buckets, cores) flat files (no bucket
    directories); every bucket is in exactly one live file, whose
    manifest bucket set equals the buckets the file holds; files are
    (bucket, <sort keys>)-ordered."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cores = spark.sparkContext.defaultParallelism
    for eng in (packed_build, packed_upsert[0]):
        n_b = {"docs": eng.cfg.doc_id_buckets,
               "site_stats": eng.cfg.term_buckets + 1}
        for table, (col, order) in LAYOUT.items():
            m = eng.io.read_manifest(table)
            assert len(m["files"]) <= min(n_b.get(table, eng.cfg.term_buckets),
                                          cores), (table, len(m["files"]))
            assert not [d for d in os.listdir(eng.io.path(table))
                        if os.path.isdir(os.path.join(eng.io.path(table), d))]
            seen: list[int] = []
            for f in m["files"]:
                path = os.path.join(eng.io.work_dir, f["path"])
                assert os.path.dirname(path) == eng.io.path(table)
                held = pq.read_table(path, columns=[col])[col]
                assert sorted(pc.unique(held).to_pylist()) == f["buckets"]
                assert held.to_pylist() == sorted(held.to_pylist())
                if order:
                    _assert_ordered(path, order)
                seen += f["buckets"]
            assert len(seen) == len(set(seen)), table  # one file per bucket
            rows = eng.io.read(table).select(col).distinct().collect()
            assert sorted(seen) == sorted(r[0] for r in rows), table
    rewritten = [f for f in packed_upsert[0].io.read_manifest("postings")
                 ["files"] if "gen-" in f["path"]]
    assert rewritten


def test_queries_pin_only_their_buckets_files(spark, packed_build,
                                              packed_upsert):
    """Exact, WAND and driver-path queries read only the files whose
    manifest bucket set holds the query terms' buckets — after the build
    and after the upsert."""
    import os
    from urllib.parse import urlparse

    from searchengine_spark.plans.build import term_bucket
    from searchengine_spark.plans.wand import wand_topk

    def files_of(eng, table, bucket):
        return {os.path.join(eng.io.work_dir, f["path"])
                for f in eng.io.read_manifest(table)["files"]
                if bucket in f["buckets"]}

    def local(paths):
        return {urlparse(p).path for p in paths}

    for eng in (packed_build, packed_upsert[0]):
        qe = QueryEngine(spark, eng.io)  # cold: reads go to the files
        q = _a_query(eng)
        terms = qe.analyze(q)
        assert [t["term"] for t in terms] == [q]
        b = term_bucket(q, qe.cfg.term_buckets)
        want_p, want_b = files_of(eng, "postings", b), files_of(eng, "blocks", b)
        assert len(want_p) == 1 < len(eng.io.read_manifest("postings")["files"])
        assert local(qe.candidates_df(terms).inputFiles()) == want_p
        assert local(wand_topk(spark, eng.io, qe.cfg, terms, k=5)
                     .inputFiles()) == want_b

        pinned = []
        real = eng.io.pinned_files

        def spy(table, buckets=None, _real=real):
            files, schema = _real(table, buckets)
            pinned.append((table, buckets, set(files)))
            return files, schema

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(eng.io, "pinned_files", spy)
            r = qe.search(q, limit=5, strategy="driver")
        assert r["result"] is True
        want = {"terms": files_of(eng, "terms", b), "blocks": want_b}
        for table, buckets, files in pinned:
            if table == "docs":
                continue  # k point reads by doc_id stats, every file
            assert buckets == [b] and files == want[table], (table, files)
        assert {t for t, _, _ in pinned} == {"terms", "blocks", "docs"}


def test_no_checksum_sidecar_outlives_its_file(packed_build, packed_upsert):
    """The hidden `.<file>.crc` sidecar the local filesystem writes beside
    each data file goes with the file: after the build and after an upsert
    every sidecar in a table directory belongs to a file of the table's
    manifest (or to the write's _SUCCESS marker)."""
    import os

    for eng in (packed_build, packed_upsert[0]):
        for table in ("docs", "postings", "terms", "site_stats", "blocks"):
            live = {os.path.basename(f["path"])
                    for f in eng.io.read_manifest(table)["files"]}
            sidecars = [n for n in os.listdir(eng.io.path(table))
                        if n.endswith(".crc")]
            assert sidecars, table
            stale = [n for n in sidecars
                     if n[1:-len(".crc")] not in live | {"_SUCCESS"}]
            assert not stale, (table, stale)


def test_packed_blocks_match_one_file_per_task(spark, packed_build):
    """The exchange-free encoder reads the postings scan with Spark's
    file packing, possibly several files to a task. Postings files never
    share a term, so every file boundary is a run boundary and the
    blocks of any packing — one file per task, or every file in one
    task — are equal on every column but block_id."""
    from searchengine_spark.operators.postings import (build_blocks,
                                                       large_arrow_batches)

    eng = packed_build
    stats = eng.io.read_meta("stats")
    head = eng.io.read_manifest("blocks")["extra"]["head_terms"]
    n_files = len(eng.io.read_manifest("postings")["files"])

    def encode(key, value):
        old = spark.conf.get(key, None)
        spark.conf.set(key, value)
        try:
            blocks = build_blocks(eng.io.read("postings"), head,
                                  stats["avgdl"], eng.cfg)
            with large_arrow_batches(spark):
                rows = blocks.drop("block_id").collect()
                return (blocks.rdd.getNumPartitions(),
                        sorted(tuple(r) for r in rows))
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    # a huge per-file open cost makes every file its own scan task; one
    # minimum split packs every file into one task
    single_tasks, single = encode("spark.sql.files.openCostInBytes",
                                  str(1 << 30))
    merged_tasks, merged = encode("spark.sql.files.minPartitionNum", "1")
    assert single_tasks == n_files > 1
    assert merged_tasks == 1
    assert merged == single
    # and the stage the build committed is that same encoding
    table = eng.io.read("blocks").drop("term_bucket", "block_id")
    assert sorted(tuple(r) for r in table.collect()) == single


DISCOVERY_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _wide_table(spark, work) -> TableIO:
    """A 40-file table: more files than Spark's parallel-listing
    threshold (32)."""
    from pyspark.sql import functions as F

    io = TableIO(spark, work)
    df = spark.range(0, 400, numPartitions=40).select(
        F.col("id").alias("v"), (F.col("id") / 10).cast("int").alias("pk"))
    io.replace_buckets(df, "t", "pk")
    assert len(io.read_manifest("t")["files"]) == 40
    return io


def test_read_lists_pinned_files_on_driver(spark, tmp_path):
    """A manifest-pinned read of a table with more files than the
    parallel-listing threshold starts no Spark job (no distributed
    listing job; the manifest's schema spares the inference job) and
    leaves the session's threshold as it found it — on success and on
    every failure path."""
    import json
    import os

    from pyspark.sql import functions as F

    key = DISCOVERY_KEY
    sc = spark.sparkContext
    io = _wide_table(spark, str(tmp_path / "wide"))

    before = spark.conf.get(key, None)
    group = "tableio-read-listing"
    with job_group(sc, group) as jobs:
        t = io.read("t")
    assert jobs() == 0
    assert spark.conf.get(key, None) == before
    assert t.count() == 400
    assert t.filter(F.col("pk") == 3).count() == 10

    # an explicit session value survives too
    spark.conf.set(key, "7")
    try:
        io.read("t")
        assert spark.conf.get(key) == "7"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)

    mpath = io._manifest_path("t")
    with open(mpath) as f:
        manifest = json.load(f)
    files = manifest["files"]
    # a listed file outside the table's directory: the read raises inside
    # Spark (wrong basePath for that root path)
    bogus = os.path.join(io.work_dir, "elsewhere.parquet")
    shutil.copy(os.path.join(io.work_dir, files[0]["path"]), bogus)
    manifest["files"] = [{"path": os.path.relpath(bogus, io.work_dir),
                          "rows": 0, "bytes": 7}]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(Exception, match="basePath"):
        io.read("t")
    assert spark.conf.get(key, None) == before

    # a listed file missing on disk: the strictness check raises
    os.remove(bogus)
    manifest["files"] = files + manifest["files"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(RuntimeError, match="missing"):
        io.read("t")
    assert spark.conf.get(key, None) == before


def test_concurrent_reads_restore_discovery_threshold(spark, tmp_path):
    """Reads from several threads at once (the build's concurrent
    branches do this) must not leave another reader's raised threshold
    behind in the session."""
    import sys
    import threading

    io = _wide_table(spark, str(tmp_path / "wide"))
    before = spark.conf.get(DISCOVERY_KEY, None)
    errors: list[BaseException] = []

    def reader():
        try:
            for _ in range(3):
                io.read("t")
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert spark.conf.get(DISCOVERY_KEY, None) == before
