"""Incremental index maintenance — bucket-scoped snapshot-to-snapshot
batch MERGE with a durable, resumable commit protocol.

The reference mutates counters in place: single-page reindex deletes the
page's postings, re-lemmatizes, decrements each lemma's df and deletes
zero-df lemmas (services/IndexingServiceImpl.removePageDataFromBD :185-198);
site removal cascades deletes (:154-163). Read-modify-write counters do not
scale; here maintenance is declarative AND bucket-scoped:

  1. doc_ids are STABLE: an updated url keeps its doc_id; new urls append
     after the largest committed doc_id (read from the docs files' parquet
     footer statistics, no Spark job) in deterministic (bucket, url)
     order; removals leave gaps (delta-gap codec only needs ascending
     ids). Unchanged docs' postings are therefore byte-identical and never
     rewritten. A batch that holds a url twice is refused: it would give
     the url two docs rows.
  2. affected terms = lemmas of the OLD text of touched docs (the
     reference's re-lemmatize step, :187) ∪ lemmas of the NEW text;
     affected term_buckets = their hash buckets — a bounded set.
  3. postings/terms/site_stats/blocks rewrite ONLY the files holding an
     affected term_bucket, and docs ONLY the files holding an affected
     url_bucket, with the build's own writers: its stage functions given
     the affected buckets, and plans/build.py::commit_table, i.e.
     TableIO.replace_buckets (the Iceberg file-level overwrite / MERGE
     seam) — the commit the build makes for the whole table. The file is
     the smallest unit rewritten: TableIO.rewrite_set widens the
     affected buckets to every bucket of those files, the scans pin
     exactly those files through the manifest (TableIO.read(table,
     buckets)), and the new content of the set = old rows minus touched
     doc_ids plus the delta. One changed page
     costs O(the files of its buckets), not O(corpus). Each rewrite runs
     one write task per file it replaces (TableIO.cluster), so the file
     count never grows past min(buckets, cores).
  4. stats are recomputed from the small terms table; the blocks
     manifest's avgdl is marked stale so WAND switches to avgdl-free
     max_tf bounds (results stay exact; bounds re-tighten on the next full
     build — see plans/wand.py).

Staging is one pass (_stage_delta): two writes under <work>/_delta/ —
docs/ (the new rows, and the old rows of touched docs) and postings/ (the
new rows' postings with their term_bucket) — extract the pages once and
tokenize the delta once. Everything else the apply needs rides those
writes as observed metrics, each bounded by a bucket count: the affected
term and url buckets and the per-bucket fresh-url counts.

Crash-safety (the C1 build's INDEXING/FAILED lifecycle extended to C3/S7/
S8, per plans/build.py:87-110): the staged delta and an atomically-written
pending.json marker are durable BEFORE any table is touched. The marker
records the staged frames' schemas, the first doc_id of each bucket's
fresh urls (a fresh row is staged with its rank in its bucket, and its id
is that first id plus the rank), the affected term buckets, the affected
url buckets and the staging wall. The apply — the first one and any
replay — reads the staged frames and the marker: it neither tokenizes nor
probes for buckets. A marker without the recorded buckets (staged by an
engine that probed them at apply time) is refused. Each table commit
is an atomic manifest swap (old snapshot readable until the swap),
applied in an order where every step is idempotent given the staged
delta, so:

  - a crash before pending.json exists: nothing changed and _delta/ is
    gone (staging removes it on every exit before the marker); re-run
    the upsert;
  - a crash mid-apply: build_status is INDEXING/FAILED (never INDEXED),
    each table is at either its old or new snapshot, and
    resume_delta() replays the apply from the staged frames — replays are
    idempotent because every bucket rewrite is expressed as
    "current rows minus touched keys plus staged delta". A new upsert or
    removal is refused until then: staging it would discard the only
    record of the mixed snapshot;
  - only after every commit lands is status INDEXED written and _delta/
    removed.

No Structured Streaming: the reference has no streaming operators, and
checkpointed batch MERGE implements the north_rule's resumability.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import EngineConfig, aqe_off, committer_v2
from ..functions.udfs import extract_docs, tokens_from_docs, url_bucket_col
from ..operators.doc_ids import bucket_offsets
from ..plans.build import IndexBuilder, commit_table, term_bucket_col
from ..sources.tableio import TableIO, _write_json

DOC_COLS = ["doc_id", "url", "site", "title", "text"]
# a staged docs row: is_new marks a row to index (else its postings are
# purged), url_bucket is its docs bucket, and a fresh url's row has no
# doc_id yet but its rank among its bucket's fresh urls (see _staged_docs)
STAGED_COLS = ["is_new", *DOC_COLS, "url_bucket", "fresh_rank"]
DELTA_DIR = "_delta"


def _delta_path(io: TableIO, *parts: str) -> str:
    return os.path.join(io.work_dir, DELTA_DIR, *parts)


def _refuse_if_pending(io: TableIO) -> None:
    """A new delta must not replace a pending one: the tables may hold a
    mix of its snapshots, and only its replay repairs them."""
    if has_pending_delta(io):
        raise RuntimeError(
            "a staged delta is pending (an upsert/remove was interrupted "
            "mid-apply) — resume_upsert() first")


def upsert_docs(spark, io: TableIO, cfg: EngineConfig,
                changed_pages: DataFrame) -> dict:
    """C3 indexPage generalized to a batch of pages: replace-by-url with
    stable ids and bucket-scoped index maintenance. Runs with AQE off,
    an engine-owned write phase like the build (config.aqe_off). A batch
    that holds a url twice is refused with a ValueError, leaving the
    index as it was."""
    from ..sources.tableio import resolve_layout

    cfg = resolve_layout(io, cfg)  # write with the index's OWN layout
    _refuse_if_pending(io)
    with aqe_off(spark):
        t0 = time.monotonic()
        rows = _upsert_rows(extract_docs(changed_pages),
                            changed_pages.select("url"), io.read("docs"),
                            cfg.doc_id_buckets)
        _stage_delta(spark, io, cfg, rows, t0)
        return apply_staged_delta(spark, io, cfg)


def remove_docs(spark, io: TableIO, cfg: EngineConfig,
                site: str | None = None, url: str | None = None) -> dict:
    """S7 (site cascade delete) / S8 (page delete + df recompute): purge
    the victims' postings from their terms' buckets only. Runs with AQE
    off, like upsert_docs."""
    from ..sources.tableio import resolve_layout

    if site is None and url is None:
        raise ValueError("remove_docs requires site= or url=")
    cfg = resolve_layout(io, cfg)  # write with the index's OWN layout
    _refuse_if_pending(io)
    cond = F.lit(True)
    if site is not None:
        cond = cond & (F.col("site") == F.lit(site))
    if url is not None:
        cond = cond & (F.col("url") == F.lit(url))
    with aqe_off(spark):
        t0 = time.monotonic()
        none = F.lit(None)
        rows = io.read("docs").filter(cond).select(
            F.lit(False).alias("is_new"), *DOC_COLS, "url_bucket",
            none.cast("long").alias("fresh_rank"),
            none.cast("long").alias("bucket_fresh"),
            none.cast("string").alias("repeated"))
        _stage_delta(spark, io, cfg, rows, t0)
        return apply_staged_delta(spark, io, cfg)


def _upsert_rows(incoming: DataFrame, urls: DataFrame, old_docs: DataFrame,
                 n_buckets: int) -> DataFrame:
    """The staged rows of an upsert batch (STAGED_COLS), plus the per-row
    inputs of _stage_delta's observed metrics: each extracted page as a
    new row, and the old row of each url the index already holds, whose
    text locates the postings to purge. One window over the union, by url
    bucket in url order, does the rest: an updated url's new row takes
    its old doc_id; a fresh url's row gets fresh_rank, its rank among
    the bucket's fresh urls, and bucket_fresh, their count; `repeated`
    names a url the batch holds twice. The html is extracted once, and
    the old docs are scanned, never shuffled: only their rows of the
    batch's urls (a semi-join) join the union."""
    new = incoming.select(
        F.lit(True).alias("is_new"), F.lit(None).cast("long").alias("doc_id"),
        "url", "site", "title", "text",
        url_bucket_col(F.col("url"), n_buckets).alias("url_bucket"))
    old = (old_docs.join(urls, "url", "left_semi")
           .select(F.lit(False).alias("is_new"), *DOC_COLS, "url_bucket"))
    w = Window.partitionBy("url_bucket").orderBy("url")
    peers = w.rangeBetween(Window.currentRow, Window.currentRow)
    is_new = F.col("is_new")
    # new rows minus old rows: 1 for a fresh url, 0 for an updated one
    gain = F.when(is_new, 1).otherwise(-1)
    old_id = F.max(F.when(~is_new, F.col("doc_id"))).over(peers)
    fresh = is_new & old_id.isNull()
    return new.unionByName(old).select(
        "is_new", F.when(is_new, old_id).otherwise(F.col("doc_id"))
        .alias("doc_id"), "url", "site", "title", "text", "url_bucket",
        F.when(fresh, F.sum(gain).over(w.rangeBetween(
            Window.unboundedPreceding, Window.currentRow)) - 1)
        .alias("fresh_rank"),
        F.when(fresh, F.sum(gain).over(w.rangeBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .alias("bucket_fresh"),
        F.when(F.sum(is_new.cast("int")).over(peers) > 1, F.col("url"))
        .alias("repeated"))


def _next_doc_id(io: TableIO) -> int:
    """One past the largest committed doc_id, from the doc_id statistics
    in the footers of the docs snapshot's files — on the driver, with no
    Spark job. Every docs file is written by Spark, whose parquet writer
    records min/max per row group."""
    top = -1
    for path in io.pinned_files("docs")[0]:
        md = pq.ParquetFile(path).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            col = next(rg.column(c) for c in range(rg.num_columns)
                       if rg.column(c).path_in_schema == "doc_id")
            if col.statistics is None or not col.statistics.has_min_max:
                raise RuntimeError(
                    f"docs file {path} has no doc_id statistics — it was "
                    "not written by this engine; rebuild the index")
            top = max(top, col.statistics.max)
    return top + 1


def _staged_docs(docs: DataFrame, first_ids: dict) -> DataFrame:
    """The staged docs rows with every doc_id set: a fresh url's id is
    its bucket's first id plus its fresh_rank — dense (bucket, url)-ordered
    ids after the index's largest, as the build assigns them."""
    if not first_ids:
        return docs
    first = F.create_map(*[x for b, i in first_ids.items()
                           for x in (F.lit(int(b)), F.lit(i).cast("long"))])
    return docs.withColumn("doc_id", F.coalesce(
        F.col("doc_id"), first[F.col("url_bucket")] + F.col("fresh_rank")))


def _stage_delta(spark, io: TableIO, cfg: EngineConfig, rows: DataFrame,
                 t0: float) -> None:
    """Durably stage the delta in two writes, each one pass over its
    input:
      _delta/docs      the staged rows (STAGED_COLS): the new rows to
                       index and the old rows of touched docs;
      _delta/postings  the new rows' postings with their term_bucket — the
                       delta's only tokenization. The old rows are
                       tokenized in the same pass, for their buckets only.
    Observed metrics on these writes, each bounded by a bucket count or a
    scalar, carry what the apply needs: the affected url buckets and each
    one's fresh-url count (hence the fresh ids' first id per bucket, after
    the largest committed doc_id), a url the batch repeats, and the
    affected term buckets (old lemmas ∪ new lemmas). A repeated url is
    refused with a ValueError.

    pending.json — the frames' schemas, the first ids, both bucket sets
    and the staging wall — is written atomically LAST: it is the delta's
    commit point. No marker, no delta: every exit before it removes
    _delta/, leaving the index and its work dir as they were."""
    root = _delta_path(io)
    shutil.rmtree(root, ignore_errors=True)  # debris: no marker (refused)
    try:
        doc_obs = Observation()
        rows = rows.observe(
            doc_obs, F.collect_set("url_bucket").alias("doc_buckets"),
            F.collect_set(F.when(F.col("fresh_rank").isNotNull(), F.struct(
                "url_bucket", "bucket_fresh"))).alias("fresh"),
            F.min("repeated").alias("repeated")).select(*STAGED_COLS)
        rows.write.parquet(_delta_path(io, "docs"))
        got = doc_obs.get
        if got["repeated"] is not None:
            raise ValueError(
                f"the upsert batch holds url {got['repeated']!r} more than "
                "once — give each url at most one page per batch")
        first = _next_doc_id(io)
        offsets = bucket_offsets({b: n for b, n in got["fresh"]},
                                 cfg.doc_id_buckets)
        first_ids = {b: first + offsets[b] for b, _ in got["fresh"]}
        docs = _staged_docs(spark.read.schema(rows.schema)
                            .parquet(_delta_path(io, "docs")), first_ids)

        # one tokenizer pass over every staged row: an old row goes in
        # under doc_id -1 (ids are >= 0), so its postings, needed only
        # for their term buckets, are told apart and dropped after the
        # observation
        is_new = F.col("is_new")
        tokens = tokens_from_docs(docs.select(
            F.when(is_new, F.col("doc_id")).otherwise(F.lit(-1))
            .cast("long").alias("doc_id"), "site", "text"))
        term_obs = Observation()
        new_postings = (tokens
                        .withColumn("term_bucket",
                                    term_bucket_col(F.col("term"),
                                                    cfg.term_buckets))
                        .observe(term_obs,
                                 F.collect_set("term_bucket").alias("b"))
                        .filter(F.col("doc_id") >= 0))
        new_postings.write.parquet(_delta_path(io, "postings"))
        _write_json(_delta_path(io, "pending.json"), {
            "schemas": {"docs": rows.schema.jsonValue(),
                        "postings": new_postings.schema.jsonValue()},
            "first_ids": {str(b): i for b, i in sorted(first_ids.items())},
            "term_buckets": sorted(term_obs.get["b"]),
            "doc_buckets": sorted(got["doc_buckets"]),
            "wall_ms": int((time.monotonic() - t0) * 1000)})
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise


def has_pending_delta(io: TableIO) -> bool:
    return os.path.exists(_delta_path(io, "pending.json"))


def _read_marker(io: TableIO) -> dict:
    """The pending delta's marker; refuses one that records no affected
    buckets (staged by an engine that probed them at apply time)."""
    with open(_delta_path(io, "pending.json")) as f:
        marker = json.load(f)
    if not {"term_buckets", "doc_buckets", "first_ids"} <= marker.keys():
        raise RuntimeError(
            f"the pending delta under {_delta_path(io)} records no affected "
            "buckets: it was staged by an older engine version — replay it "
            "with that version's resume_upsert(), or rebuild the index with "
            "build_index")
    return marker


def resume_delta(spark, io: TableIO, cfg: EngineConfig) -> dict | None:
    """Replay an interrupted upsert/remove from the staged delta (the C3
    analog of build_index(resume=True)). No-op when nothing is pending."""
    if not has_pending_delta(io):
        return None
    from ..sources.tableio import resolve_layout

    with aqe_off(spark):  # an engine-owned write phase, like upsert_docs
        return apply_staged_delta(spark, io, resolve_layout(io, cfg))


def apply_staged_delta(spark, io: TableIO, cfg: EngineConfig) -> dict:
    """Apply the staged delta under the build lifecycle protocol:
    INDEXING(stage=delta) on entry, FAILED + kept staging on error (so
    resume_delta can replay), INDEXED + staging removed on success. The
    report's `delta` record is the staging phase: its wall (extraction to
    marker) and the affected term and url buckets."""
    if not has_pending_delta(io):
        raise RuntimeError("no staged delta to apply")
    marker = _read_marker(io)

    def staged(name):
        schema = StructType.fromJson(marker["schemas"][name])
        return spark.read.schema(schema).parquet(_delta_path(io, name))

    builder = IndexBuilder(spark, io, cfg)
    # same engine-owned write-phase scoping as IndexBuilder.build
    with builder.status("delta"), committer_v2(spark):
        docs = _staged_docs(staged("docs"), marker["first_ids"])
        report = _apply_delta(io, cfg, builder, docs,
                              staged("postings"), marker["term_buckets"],
                              marker["doc_buckets"])
    report["delta"] = {"wall_ms": marker["wall_ms"],
                       "affected_buckets": marker["term_buckets"],
                       "doc_buckets": marker["doc_buckets"]}
    shutil.rmtree(_delta_path(io), ignore_errors=True)
    return report


def _apply_delta(io: TableIO, cfg: EngineConfig, builder: IndexBuilder,
                 delta_docs: DataFrame, delta_postings: DataFrame,
                 buckets: list[int], doc_buckets: list[int]) -> dict:
    """Rewrite only the files holding affected term_buckets of postings/
    terms/site_stats/blocks and affected url_buckets of docs; recompute
    scalar stats. Every step is an atomic file-replacement commit
    expressed as "current rows minus touched keys plus staged delta", so
    replaying after a crash converges to the same state regardless of
    which commits already landed.

    delta_docs: the staged rows (STAGED_COLS) — every doc_id and url in it
    is touched, and its is_new rows are the docs to index; delta_postings:
    their postings; buckets/doc_buckets: the affected term and url
    buckets, recorded when the delta was staged. Nothing here tokenizes
    or probes."""
    report: dict[str, dict] = {"affected_buckets": buckets}

    if buckets:
        # --- postings: the rewrite set's rows minus touched docs, plus the
        # delta (every delta term is in an affected bucket by
        # construction); the pinned read holds exactly the set's rows
        pb, k = io.rewrite_set("postings", buckets)
        newp = (io.read("postings", pb)
                .join(delta_docs.select("doc_id"), "doc_id", "left_anti")
                .unionByName(delta_postings))
        report["postings"] = commit_table(
            io, "postings", io.cluster(newp, "term_bucket", k),
            pb).to_json()
        # --- terms: recompute df/cf for the terms rewrite set only
        report["terms"] = builder._stage_terms(buckets).to_json()

    # --- docs: rewrite only the files of the touched url_buckets (atomic
    # commit — the old docs snapshot stays readable until the manifest
    # swap, and the old-lemma delta needed to purge stale postings lives
    # in _delta/, never only in the table being overwritten)
    report["docs"] = _commit_docs(io, delta_docs, doc_buckets)

    # stats AFTER the docs commit: n_docs comes from the docs manifest
    report["stats"] = builder._stage_stats().to_json()

    # site_stats: lemma rows of the rewrite set's term buckets + the -1
    # pages rows (docs changed); an index whose site_stats stage never
    # completed gets a full rebuild of the tiny table
    report["site_stats"] = builder._stage_site_stats(
        buckets if io.stage_complete("site_stats") else None).to_json()

    if buckets:
        # --- blocks: re-encode the rewrite set's buckets and mark the
        # block-max bounds stale. Postings files keep every bucket a
        # (term, doc_id)-ordered run, so the exchange-free encoder applies
        # here exactly as in the full build — the set's postings are
        # scanned straight into it, never shuffled.
        report["blocks"] = builder._stage_blocks(buckets).to_json()

    return report


def _commit_docs(io: TableIO, delta_docs: DataFrame,
                 doc_buckets: list[int]) -> dict:
    """File-scoped docs commit: replacement rows for the rewrite set of
    the affected url_buckets = its current rows minus touched urls (the
    old and the new rows') plus the staged new rows — idempotent under
    replay."""
    if not doc_buckets:
        return (io.read_manifest("docs") or {})

    db, k = io.rewrite_set("docs", doc_buckets)
    repl = (io.read("docs", db)
            .join(delta_docs.select("url"), "url", "left_anti")
            .select(*DOC_COLS, "url_bucket")
            # every delta url is in doc_buckets by construction
            .unionByName(delta_docs.filter(F.col("is_new"))
                         .select(*DOC_COLS, "url_bucket")))
    return commit_table(io, "docs", io.cluster(repl, "url_bucket", k),
                        db).to_json()
