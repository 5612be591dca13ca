"""Incremental index maintenance — bucket-scoped snapshot-to-snapshot
batch MERGE with a durable, resumable commit protocol.

The reference mutates counters in place: single-page reindex deletes the
page's postings, re-lemmatizes, decrements each lemma's df and deletes
zero-df lemmas (services/IndexingServiceImpl.removePageDataFromBD :185-198);
site removal cascades deletes (:154-163). Read-modify-write counters do not
scale; here maintenance is declarative AND bucket-scoped:

  1. doc_ids are STABLE: an updated url keeps its doc_id; new urls append
     after max(doc_id) in deterministic (bucket, url) order; removals leave
     gaps (delta-gap codec only needs ascending ids). Unchanged docs'
     postings are therefore byte-identical and never rewritten.
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

Crash-safety (the C1 build's INDEXING/FAILED lifecycle extended to C3/S7/
S8, per plans/build.py:87-110): the computed delta — the old rows of
touched docs (whose lemmas locate the buckets to purge) and the new doc
rows (with ids already assigned) — is staged DURABLY under <work>/_delta/
plus an atomically-written pending.json marker (which also records the
staged frames' schemas) BEFORE any table is touched. Each table commit
is an atomic manifest swap (old snapshot readable until the swap),
applied in an order where every step is idempotent given the staged
delta, so:

  - a crash before pending.json exists: nothing changed; re-run the upsert;
  - a crash mid-apply: build_status is INDEXING/FAILED (never INDEXED),
    each table is at either its old or new snapshot, and
    resume_delta() replays the apply from the staged frames — replays are
    idempotent because every bucket rewrite is expressed as
    "current rows minus touched keys plus staged delta";
  - only after every commit lands is status INDEXED written and _delta/
    removed.

No Structured Streaming: the reference has no streaming operators, and
checkpointed batch MERGE implements the north_rule's resumability.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import EngineConfig, aqe_off, committer_v2
from ..functions.udfs import extract_docs, tokens_from_docs, url_bucket_col
from ..operators.doc_ids import assign_doc_ids
from ..plans.build import (IndexBuilder, commit_table, postings_frame,
                           term_bucket_col)
from ..sources.tableio import TableIO

DOC_COLS = ["doc_id", "url", "site", "title", "text"]
DELTA_DIR = "_delta"


def _delta_path(io: TableIO, *parts: str) -> str:
    return os.path.join(io.work_dir, DELTA_DIR, *parts)


def upsert_docs(spark, io: TableIO, cfg: EngineConfig,
                changed_pages: DataFrame) -> dict:
    """C3 indexPage generalized to a batch of pages: replace-by-url with
    stable ids and bucket-scoped index maintenance. Runs with AQE off,
    an engine-owned write phase like the build (config.aqe_off)."""
    from ..sources.tableio import resolve_layout

    cfg = resolve_layout(io, cfg)  # write with the index's OWN layout
    with aqe_off(spark):
        old_docs = io.read("docs")
        incoming = extract_docs(changed_pages)

        # stage the (small) incoming batch once; everything below reuses
        # it (read back with the written frame's schema: no inference job)
        inc_path = os.path.join(io.work_dir, "_staged_incoming")
        incoming.write.mode("overwrite").parquet(inc_path)
        incoming = spark.read.schema(incoming.schema).parquet(inc_path)

        old_ids = old_docs.select("doc_id", "url")
        updated = incoming.join(old_ids, "url")  # keeps old doc_id
        fresh = incoming.join(old_ids.select("url"), "url", "left_anti")
        max_id = old_docs.agg(F.max("doc_id")).collect()[0][0]
        base = int(max_id) + 1 if max_id is not None else 0
        fresh_ids = (assign_doc_ids(fresh, cfg.doc_id_buckets)
                     .withColumn("doc_id", (F.col("doc_id") + F.lit(base))
                                 .cast("long")))
        changed = (updated.select(*DOC_COLS)
                   .unionByName(fresh_ids.select(*DOC_COLS)))

        # old text of updated urls: its lemmas locate the buckets to purge
        old_touched = old_docs.join(incoming.select("url"), "url",
                                    "left_semi")

        _stage_delta(spark, io, changed=changed, touched=old_touched)
        report = apply_staged_delta(spark, io, cfg)
    shutil.rmtree(inc_path, ignore_errors=True)
    return report


def remove_docs(spark, io: TableIO, cfg: EngineConfig,
                site: str | None = None, url: str | None = None) -> dict:
    """S7 (site cascade delete) / S8 (page delete + df recompute): purge
    the victims' postings from their terms' buckets only. Runs with AQE
    off, like upsert_docs."""
    from ..sources.tableio import resolve_layout

    if site is None and url is None:
        raise ValueError("remove_docs requires site= or url=")
    cfg = resolve_layout(io, cfg)  # write with the index's OWN layout
    docs = io.read("docs")
    cond = F.lit(True)
    if site is not None:
        cond = cond & (F.col("site") == F.lit(site))
    if url is not None:
        cond = cond & (F.col("url") == F.lit(url))
    removed = docs.filter(cond)
    with aqe_off(spark):
        _stage_delta(spark, io, changed=None, touched=removed)
        return apply_staged_delta(spark, io, cfg)


def _stage_delta(spark, io: TableIO, changed: DataFrame | None,
                 touched: DataFrame) -> None:
    """Durably stage the delta: old rows of touched docs + new doc rows
    (with assigned ids). pending.json is written atomically LAST — it is
    the delta's commit point: no marker, no delta (a crash mid-staging
    leaves the index untouched and the caller simply re-runs)."""
    root = _delta_path(io)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    # the marker records each staged frame's schema, so the apply (or a
    # replay in another process) reads them back without inference jobs
    schemas = {}
    for name, frame in (("touched", touched), ("changed", changed)):
        if frame is not None:
            frame = frame.select(*DOC_COLS)
            frame.write.mode("overwrite").parquet(_delta_path(io, name))
            schemas[name] = frame.schema.jsonValue()
    marker = {"schemas": schemas}
    tmp = _delta_path(io, "pending.json.tmp")
    with open(tmp, "w") as f:
        json.dump(marker, f)
    os.replace(tmp, _delta_path(io, "pending.json"))


def has_pending_delta(io: TableIO) -> bool:
    return os.path.exists(_delta_path(io, "pending.json"))


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
    resume_delta can replay), INDEXED + staging removed on success."""
    if not has_pending_delta(io):
        raise RuntimeError("no staged delta to apply")
    with open(_delta_path(io, "pending.json")) as f:
        marker = json.load(f)

    def staged(name):
        schema = StructType.fromJson(marker["schemas"][name])
        return spark.read.schema(schema).parquet(_delta_path(io, name))

    touched = staged("touched")
    changed = staged("changed") if "changed" in marker["schemas"] else None

    builder = IndexBuilder(spark, io, cfg)
    # same engine-owned write-phase scoping as IndexBuilder.build
    with builder.status("delta"), committer_v2(spark):
        report = _apply_delta(spark, io, cfg, builder,
                              delta_docs=changed, old_touched=touched)
    shutil.rmtree(_delta_path(io), ignore_errors=True)
    return report


def _apply_delta(spark, io: TableIO, cfg: EngineConfig,
                 builder: IndexBuilder, delta_docs: DataFrame | None,
                 old_touched: DataFrame) -> dict:
    """Rewrite only the files holding affected term_buckets of postings/
    terms/site_stats/blocks and affected url_buckets of docs; recompute
    scalar stats. Every step is an atomic file-replacement commit
    expressed as "current rows minus touched keys plus staged delta", so
    replaying after a crash converges to the same state regardless of
    which commits already landed.

    delta_docs: docs whose NEW text must be indexed (None for pure
    removals); old_touched: docs whose OLD postings must be purged (their
    doc_ids + old lemmas). Both read from the durable _delta/ staging."""
    report: dict[str, dict] = {}

    # --- affected term buckets (old lemmas ∪ new lemmas of touched docs)
    affected = tokens_from_docs(old_touched).select("term")
    touched_ids = old_touched.select("doc_id")
    touched_urls = old_touched.select("url")
    delta_tokens = None
    if delta_docs is not None:
        delta_tokens = postings_frame(delta_docs, cfg.term_buckets)
        affected = affected.unionByName(delta_tokens.select("term"))
        touched_ids = touched_ids.unionByName(delta_docs.select("doc_id"))
        touched_urls = touched_urls.unionByName(delta_docs.select("url"))
    buckets = sorted(
        r["b"] for r in affected
        .select(term_bucket_col(F.col("term"), cfg.term_buckets).alias("b"))
        .distinct().collect())
    report["affected_buckets"] = buckets

    if buckets:
        # --- postings: the rewrite set's rows minus touched docs, plus the
        # delta (every delta term is in an affected bucket by
        # construction); the pinned read holds exactly the set's rows
        pb, k = io.rewrite_set("postings", buckets)
        newp = io.read("postings", pb).join(touched_ids, "doc_id",
                                            "left_anti")
        if delta_tokens is not None:
            newp = newp.unionByName(delta_tokens)
        report["postings"] = commit_table(
            io, "postings", io.cluster(newp, "term_bucket", k),
            pb).to_json()
        # --- terms: recompute df/cf for the terms rewrite set only
        report["terms"] = builder._stage_terms(buckets).to_json()

    # --- docs: rewrite only the files of the touched url_buckets (atomic
    # commit — the old docs snapshot stays readable until the manifest
    # swap, and the old-lemma delta needed to purge stale postings lives
    # in _delta/, never only in the table being overwritten)
    report["docs"] = _commit_docs(spark, io, cfg, delta_docs, touched_urls)

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


def _commit_docs(spark, io: TableIO, cfg: EngineConfig,
                 delta_docs: DataFrame | None,
                 touched_urls: DataFrame) -> dict:
    """File-scoped docs commit: replacement rows for the rewrite set of
    the affected url_buckets = its current rows minus touched urls (the
    old and the changed docs') plus the staged changed rows — idempotent
    under replay. cfg carries the index's own doc_id_buckets
    (resolve_layout)."""
    bucket_of_url = url_bucket_col(F.col("url"), cfg.doc_id_buckets)
    doc_buckets = sorted(
        r["b"] for r in
        touched_urls.select(bucket_of_url.alias("b")).distinct().collect())
    if not doc_buckets:
        return (io.read_manifest("docs") or {})

    db, k = io.rewrite_set("docs", doc_buckets)
    repl = (io.read("docs", db)
            .join(touched_urls.distinct(), "url", "left_anti")
            .select(*DOC_COLS, "url_bucket"))
    if delta_docs is not None:
        # every delta url is in doc_buckets by construction
        repl = repl.unionByName(
            delta_docs.select(*DOC_COLS)
            .withColumn("url_bucket", bucket_of_url))
    return commit_table(io, "docs", io.cluster(repl, "url_bucket", k),
                        db).to_json()
