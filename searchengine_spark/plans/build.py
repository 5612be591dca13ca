"""Index build plan — pages ➜ docs ➜ postings ➜ terms ➜ stats.

Replaces the reference's crawl-and-upsert build
(services/IndexingServiceImpl.startIndexing :80-108 + RecursiveSearch): the
crawl's output is our input table; every MySQL read-modify-write counter
(df increment, RecursiveSearch.java:150-161) becomes a declarative
aggregation; each stage commit is a checkpoint (manifest + parquet dir).
The single-page reindex (streaming/incremental.py) writes the same tables
through the same commit: every writer goes through commit_table, which
takes each table's layout from TABLES and commits through
TableIO.replace_buckets — the whole table here, the affected buckets'
files there.

Stage graph (each stage resumable, per-file lineage in _manifest/):

  docs      pages --extract(mapInPandas)--> +deterministic doc_id
  postings  docs --tokenize+tf(mapInPandas)--> (term, doc_id, tf, dl, site)
            clustered by term_bucket, sorted (term_bucket, term, doc_id)
  terms     postings groupBy(term) -> df, cf   (A2; exact, not incremental)
  stats     scalar corpus stats: n_docs, total_tokens, avgdl  (A3)

Scale notes (100 TB / 10^12 docs):
- the html BINARY column is pruned immediately after extraction; nothing
  downstream ever shuffles raw html
- tokens are pre-aggregated per document inside the Arrow batch (map-side
  combine), so the only wide exchange is the term_bucket repartition
- every bucketed table is min(buckets, cores) files, one per write task
  (TableIO.cluster), each holding whole buckets; the manifest records
  each file's bucket set and readers prune files through it. The bucket
  count sets doc ids and query-time pruning granularity, not the file
  count or the write parallelism
- doc-id assignment is one hash-bucket shuffle + per-bucket sort; bucket
  count is config (raise to thousands of buckets on a real cluster)
- head-term skew is handled at the block-build stage (operators/postings.py)
  by range-sharding doc_ids of high-df terms — see build_blocks
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig, aqe_off, committer_v2
from ..functions.udfs import extract_docs, tokens_from_docs, url_bucket_col
from ..operators.doc_ids import attach_doc_ids, compute_bucket_offsets
from ..sources.tableio import (StageResult, TableIO, check_format_version,
                               in_buckets)

STAGES = ["docs", "postings", "terms", "stats", "site_stats", "blocks"]

# Each table's layout, declared once: (bucket column, sort keys within a
# bucket). docs by url_bucket, doc_id-ascending (tight row-group stats
# for the serving path's point reads); postings as (term, doc_id) runs
# (the exchange-free block encoder and parquet min/max skipping); blocks
# in the order WAND and the driver path read them; site_stats holds the
# term buckets plus the -1 pages bucket.
TABLES = {
    "docs": ("url_bucket", ["doc_id"]),
    "postings": ("term_bucket", ["term", "doc_id"]),
    "terms": ("term_bucket", []),
    "site_stats": ("term_bucket", []),
    "blocks": ("term_bucket", ["term", "shard", "doc_min"]),
}


def term_bucket_col(term_col, n_buckets: int):
    """Partition key for the postings layout — same md5 spec as doc buckets
    so the oracle/tests can reproduce it."""
    return url_bucket_col(term_col, n_buckets)


def term_bucket(term: str, n_buckets: int) -> int:
    """term_bucket_col for one term, driver-side (query-time pruning)."""
    import hashlib
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def postings_frame(docs: DataFrame, n_buckets: int) -> DataFrame:
    """The posting rows of docs with their term bucket — what the build
    writes for the corpus and an upsert for its changed docs."""
    return tokens_from_docs(docs).withColumn(
        "term_bucket", term_bucket_col(F.col("term"), n_buckets))


def commit_table(io: TableIO, table: str, df: DataFrame,
                 buckets: list | None = None, extra: dict | None = None):
    """Commit df as `table` (buckets=None) or as the files of its
    `buckets`, in the table's declared layout (TABLES)."""
    bucket_col, sort_by = TABLES[table]
    return io.replace_buckets(df, table, bucket_col, buckets,
                              sort_by=sort_by, extra=extra)


def _error_message(exc: BaseException) -> str:
    """The status record's one-line error text."""
    return f"{type(exc).__name__}: {exc}".splitlines()[0][:300]


class IndexBuilder:
    def __init__(self, spark, io: TableIO, cfg: EngineConfig | None = None,
                 stop_event=None):
        self.spark = spark
        self.io = io
        self.cfg = cfg or EngineConfig()
        # cooperative cancellation (C2): job-group cancel kills in-flight
        # Spark jobs; this event stops the build between stages, where no
        # job is running to cancel
        self.stop_event = stop_event

    # ------------------------------------------------------------------

    def build(self, pages: DataFrame, resume: bool = False) -> dict:
        """Run all stages; with resume=True, completed stages are skipped
        (checkpoint-restart, north_rule). Returns the stage report dict.

        Lifecycle mirrors the reference site status rows
        (IndexingServiceImpl.java:80-108,165-171): build_status meta is
        INDEXING (with the in-flight stage) while running, INDEXED on
        success, FAILED + error on abort/exception — and the interrupted
        stage gets an `aborted` manifest so resume knows where to restart."""
        report: dict[str, dict] = {}
        if resume:
            check_format_version(self.io)
        else:
            self.io.invalidate_from(STAGES, STAGES[0])

        # AQE off and committer v2, both scoped to the build (engine-owned
        # write phase; see config.aqe_off and config.committer_v2)
        with aqe_off(self.spark), committer_v2(self.spark):
            return self._build_stages(pages, resume, report)

    def _build_stages(self, pages: DataFrame, resume: bool,
                      report: dict) -> dict:
        t0 = time.monotonic()
        started: list[str] = []  # append-only; GIL-atomic across branches

        def run_stage(s: str, fn) -> None:
            started.append(s)
            if resume and self.io.stage_complete(s):
                report[s] = {**self.io.read_manifest(s), "skipped": True}
                return
            if self.stop_event is not None and self.stop_event.is_set():
                raise InterruptedError("build stopped by user")
            report[s] = fn().to_json()

        self.write_status("INDEXING")
        try:
            self.write_status("INDEXING", stage="docs")
            run_stage("docs", lambda: self._stage_docs(pages))
            self.write_status("INDEXING", stage="postings")
            run_stage("postings", self._stage_postings)

            # site_stats depends only on docs+postings, nothing downstream
            # of it until the end — run it CONCURRENTLY with the
            # terms→stats→blocks chain (independent DAG branches; the
            # driver-side gaps between one branch's jobs are filled by the
            # other's tasks). This is serial fixed cost under Amdahl:
            # removing it is worth more at higher parallelism, which is
            # exactly what the north_rule's scaling criterion measures.
            # InheritableThread propagates the job group (C2 stop) and a
            # plain dict/list carries the branch's report entries (GIL-
            # atomic). Each stage still commits its own manifest, so
            # resume/abort semantics are unchanged.
            self.write_status("INDEXING", stage="terms+site_stats")
            from pyspark import InheritableThread

            branch_exc: list[BaseException] = []

            def ss_branch() -> None:
                try:
                    run_stage("site_stats", self._stage_site_stats)
                except BaseException as e:  # surfaced after join
                    branch_exc.append(e)

            th = InheritableThread(target=ss_branch, daemon=True)
            th.start()
            try:
                run_stage("terms", self._stage_terms)
                run_stage("stats", self._stage_stats)
                self.write_status("INDEXING", stage="blocks")
                run_stage("blocks", self._stage_blocks)
            finally:
                th.join()
            if branch_exc:
                raise branch_exc[0]
        except BaseException as exc:  # incl. job-group cancellation
            msg = _error_message(exc)
            # mark every attempted-but-uncommitted stage aborted (with
            # branches, more than one can be in flight) — and ONLY those:
            # a stop landing on a resume-skipped (complete) stage must not
            # clobber its manifest (vacuum would then treat every file of
            # the table as dead)
            failed_at = None
            for s in started:
                if not self.io.stage_complete(s):
                    failed_at = failed_at or s
                    self.io.write_manifest(StageResult(
                        stage=s, status="aborted", rows=0, bytes=0,
                        wall_ms=int((time.monotonic() - t0) * 1000),
                        extra={"error": msg}))
            # started can be empty (failure before the first run_stage,
            # e.g. the initial write_status raising) — never let the
            # handler itself crash and mask the real error
            last = started[-1] if started else STAGES[0]
            try:
                self.write_status("FAILED", stage=failed_at or last,
                                  error=msg)
            except Exception:
                pass  # a status-write failure must not mask the real one
            raise
        self.write_status("INDEXED")
        report["_total_wall_ms"] = int((time.monotonic() - t0) * 1000)
        return report

    def write_status(self, status: str, stage: str | None = None,
                     error: str | None = None) -> None:
        """Reference Website.status/status_time/last_error analog
        (model/Website.java:14-35), one record for the whole input table."""
        self.io.write_meta("build_status", {
            "status": status, "stage": stage, "error": error,
            "status_time": int(time.time() * 1000),
        })

    @contextmanager
    def status(self, stage: str):
        """The lifecycle of a maintenance write (a delta apply, a blocks
        refresh): INDEXING(stage) while it runs, then INDEXED — or FAILED
        with the error when it raises."""
        self.write_status("INDEXING", stage=stage)
        try:
            yield
        except BaseException as exc:
            try:
                self.write_status("FAILED", stage=stage,
                                  error=_error_message(exc))
            except Exception:
                pass  # a status-write failure must not mask the real one
            raise
        self.write_status("INDEXED")

    # ------------------------------------------------------------------

    def _stage_docs(self, pages: DataFrame):
        # ids are a function of the url SET only: the bucket-count job runs
        # on a url-only projection (Catalyst prunes the scan; html never
        # loads), then the extract UDF runs exactly once and the id window
        # shuffles the html-free extracted frame.
        #
        # The table is BUCKETED by url_bucket (the same md5 bucket that
        # orders doc_id assignment, so each bucket is a contiguous doc_id
        # range — parquet row-group stats stay tight for the serving
        # path's doc_id point reads) and incremental upserts rewrite only
        # the files holding touched buckets (streaming/incremental.py)
        # instead of the whole table.
        n_b = self.cfg.doc_id_buckets
        offsets = compute_bucket_offsets(pages, n_b)
        extracted = extract_docs(pages)
        # the id window already hash-partitions by the url bucket; keeping
        # its column (instead of recomputing + repartitioning) keeps the
        # write exchange-free — each bucket is wholly in one window task,
        # and the narrow coalesce merges whole tasks down to one per core
        docs = attach_doc_ids(extracted, offsets, n_b,
                              keep_bucket_as="url_bucket")
        docs = docs.select("doc_id", "url", "site", "title", "text",
                           "url_bucket")
        return commit_table(self.io, "docs",
                            docs.coalesce(self.io.write_tasks(n_b)),
                            extra={"doc_id_buckets": n_b})

    def _stage_postings(self):
        cfg = self.cfg
        postings = postings_frame(self.io.read("docs"), cfg.term_buckets)
        # one task (and file) per core, each bucket wholly in one task
        return commit_table(
            self.io, "postings",
            self.io.cluster(postings, "term_bucket", cfg.term_buckets),
            extra={"term_buckets": cfg.term_buckets})

    def _postings_of(self, buckets: list[int] | None) -> DataFrame:
        """Committed postings rows of the term buckets (every bucket when
        None): the files holding them, less their other buckets' rows."""
        if buckets is None:
            return self.io.read("postings")
        return in_buckets(self.io.read("postings", buckets), "term_bucket",
                          buckets, self.cfg.term_buckets)

    def _stage_terms(self, buckets: list[int] | None = None):
        """Per-term df/cf — of every term (build), or of the terms files
        holding `buckets` (an upsert's affected buckets, widened by
        TableIO.rewrite_set). Only the whole-table write records the
        corpus totals and head terms in the manifest; a partial rewrite
        nulls them, so _stage_stats/_stage_blocks re-aggregate instead of
        trusting stale values."""
        from pyspark.sql import Observation

        cfg = self.cfg
        if buckets is None:
            tb, k = None, cfg.term_buckets
        else:
            tb, k = self.io.rewrite_set("terms", buckets)
        terms = (self._postings_of(tb).groupBy("term")
                 # each (doc,term) appears once => count(*) == df
                 .agg(F.count("*").alias("df"), F.sum("tf").alias("cf")))
        if tb is None:
            # corpus totals (Σcf, Σdf) ride the terms WRITE job as
            # observed metrics — the stats stage then costs zero Spark
            # jobs. Every job the driver schedules is width-independent
            # wall (~100 ms + plan time each) that the north_rule's N→4N
            # efficiency pays in full, so the build piggybacks scalars on
            # actions it already runs.
            obs = Observation("corpus_totals")
            terms = terms.observe(
                obs, F.sum("cf").alias("total_tokens"),
                F.sum("df").alias("n_postings"),
                # head terms (df above the salting threshold) ride the
                # same write job, sparing _stage_blocks its own collect
                # job; bounded — head terms are stopword-scale few.
                # collect_list drops the nulls when() leaves on non-head
                # rows.
                F.collect_list(
                    F.when(F.col("df") > cfg.salt_df_threshold,
                           F.col("term"))).alias("head_terms"))
        terms = terms.withColumn(
            "term_bucket", term_bucket_col(F.col("term"), cfg.term_buckets))
        # one file per core (per replaced file), each bucket wholly in one
        res = commit_table(
            self.io, "terms", self.io.cluster(terms, "term_bucket", k), tb,
            extra=None if tb is None else dict.fromkeys(
                ("total_tokens", "n_postings", "head_terms",
                 "head_df_threshold")))
        if tb is not None:
            return res
        # re-commit the manifest with the observed totals (atomic replace;
        # a crash in between leaves a valid manifest and _stage_stats
        # falls back to its own aggregation)
        got = obs.get
        res.extra.update({
            "total_tokens": int(got["total_tokens"] or 0),
            "n_postings": int(got["n_postings"] or 0),
            # sorted for manifest stability (collect_list order is
            # partition-dependent); consumers treat it as a set
            "head_terms": sorted(got["head_terms"] or []),
            "head_df_threshold": self.cfg.salt_df_threshold,
        })
        self.io.write_manifest(res)
        return res

    def _stage_stats(self):
        t0 = time.monotonic()
        # row counts already recorded in the stage manifests (parquet
        # footers) — no extra count job; corpus totals were observed on the
        # terms write job (zero extra jobs). Fallback for terms rewritten by
        # an upsert (which nulls the totals) or a crash between the terms
        # write and its manifest re-commit: one small agg over the tiny
        # terms table — never a re-scan of the postings fact table.
        n_docs = self.io.read_manifest("docs")["rows"]
        tex = (self.io.read_manifest("terms") or {}).get("extra", {})
        # totals are nulled (not removed) by incremental terms rewrites —
        # require present AND non-None before trusting them
        if tex.get("total_tokens") is not None \
                and tex.get("n_postings") is not None:
            total_tokens = int(tex["total_tokens"])
            n_postings = int(tex["n_postings"])
        else:
            terms = self.io.read("terms")
            agg = terms.agg(F.sum("cf").alias("total_tokens"),
                            F.sum("df").alias("n_postings")).collect()[0]
            total_tokens = int(agg["total_tokens"] or 0)
            n_postings = int(agg["n_postings"] or 0)
        stats = {
            "n_docs": n_docs,
            "n_postings": n_postings,
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        }
        self.io.write_meta("stats", stats)
        res = StageResult(stage="stats", status="complete", rows=n_docs, bytes=0,
                          wall_ms=int((time.monotonic() - t0) * 1000), extra=stats)
        self.io.write_manifest(res)
        return res

    def _site_stats_frame(self, docs: DataFrame,
                          postings: DataFrame) -> DataFrame:
        """Rows of the precomputed per-site statistics table:
          (site, term_bucket=b,  pages=0, lemmas=<distinct terms of b>)
          (site, term_bucket=-1, pages=<page count>, lemmas=0)
        for the term buckets of `postings`. Distinct (site, term) pairs
        partition cleanly by term_bucket, so incremental updates rewrite
        only the affected buckets' rows (plus the -1 pages rows) — the
        same file-replacement discipline as postings/terms.

        Plan shape: postings carry site_id = xxhash64(site) (an 8-byte
        int attached BEFORE the wide shuffle, functions/udfs.py — 64-bit
        collisions over even 10^8 sites are ~birthday 2^-16, and a
        collision only merges two sites' counts), so the lemma counts are
        ONE aggregation over a column-pruned (site_id, term) scan of
        postings — no postings-sized join, no docs scan, and the site
        STRING never rides any shuffle: names join back AFTER aggregation
        on the tiny (site_id, bucket) frame."""
        site_names = (docs.select("site").distinct()
                      .withColumn("site_id", F.xxhash64("site")))
        lem_ids = (postings.select("site_id", "term_bucket", "term")
                   .groupBy("site_id", "term_bucket")
                   .agg(F.count_distinct("term").cast("long")
                        .alias("lemmas")))
        lem = (lem_ids.join(site_names, "site_id")
               .select("site", "term_bucket",
                       F.lit(0).cast("long").alias("pages"), "lemmas"))
        pg = (docs.groupBy("site")
              .agg(F.count("*").cast("long").alias("pages"))
              .select("site", F.lit(-1).cast("int").alias("term_bucket"),
                      "pages", F.lit(0).cast("long").alias("lemmas")))
        return lem.unionByName(pg)

    def _stage_site_stats(self, buckets: list[int] | None = None):
        """A4/C5 precompute: per-site page + distinct-lemma counts, built
        once here so statistics() reads a tiny table instead of scanning
        postings per call — of every bucket (build), or of the files
        holding `buckets` plus the -1 pages rows (an upsert: docs
        changed). The plan is join-free: postings carry site_id, so this
        is one column-pruned (site_id, term) aggregation (see
        _site_stats_frame)."""
        if buckets is None:
            # term buckets plus the -1 pages bucket
            sb, k, lem = None, self.cfg.term_buckets + 1, None
        else:
            sb, k = self.io.rewrite_set("site_stats", [*buckets, -1])
            lem = [b for b in sb if b >= 0]
        frame = self._site_stats_frame(self.io.read("docs"),
                                       self._postings_of(lem))
        return commit_table(self.io, "site_stats",
                            self.io.cluster(frame, "term_bucket", k), sb)

    def refresh_blocks(self):
        """Blocks-only maintenance rebuild: re-encode every posting block
        with the CURRENT corpus avgdl and head-term set. Incremental deltas
        mark the blocks manifest's avgdl stale (streaming/incremental.py
        sets avgdl=None) because untouched buckets' max_tfpart bakes the
        OLD avgdl — WAND then falls back to the looser avgdl-free max_tf
        bound. This re-tightens it without a full rebuild: the build's own
        blocks stage, O(one postings scan), touching neither docs nor
        postings and re-sharding terms whose df crossed the salting
        threshold since the last full build. Like every table write it
        commits by file replacement, so the old blocks snapshot stays
        readable until the manifest swap (safe against a live serving
        reader).

        Refuses while a staged delta is pending: postings could be at
        either snapshot of an in-flight commit, and encoding them would
        bake that ambiguity into committed blocks."""
        from ..streaming.incremental import has_pending_delta

        if has_pending_delta(self.io):
            raise RuntimeError(
                "a staged delta is pending — resume_upsert() first, then "
                "refresh blocks")
        for dep in ("postings", "terms", "blocks"):
            if not self.io.stage_complete(dep):
                raise RuntimeError(
                    f"refresh_blocks needs a complete '{dep}' stage — "
                    "run/resume the build first")

        with self.status("blocks_refresh"), committer_v2(self.spark):
            return self._stage_blocks()

    def _blocks_frame(self, postings: DataFrame
                     ) -> tuple[DataFrame, list[str], float]:
        """Encode a scan of (some buckets of) the postings table into block
        rows with their term_bucket column, under the current corpus avgdl
        and head-term set. Returns (blocks, head terms, avgdl); the callers
        record both in the blocks manifest.

        Exchange-free: postings files are (term, doc_id)-ordered (every
        writer sorts them so) and shard is monotonic in doc_id within a
        term, so the encoder consumes the scan directly — only the tiny
        encoded-blocks frame is ever sorted. Encode parallelism is the
        scan's default file packing (~one task per core): each postings
        file holds whole buckets and a task may read several files, which
        never share a term, so runs stay whole (build_blocks) and every
        blocks file holds whole buckets too. Scale notes: a postings file
        larger than maxPartitionBytes splits across tasks mid-run — blocks
        stay disjoint/valid (each split encodes its rows as fresh runs)
        and the manifest records the split bucket in both blocks files;
        you just get one short block per split."""
        from ..operators.postings import build_blocks

        cfg = self.cfg
        avgdl = float(self.io.read_meta("stats")["avgdl"]) or 1.0
        # head terms (df above salting threshold) are few even at web scale —
        # a bounded driver-side list, observed on the terms write job when
        # a full build produced it. Fallback (terms rewritten by an upsert,
        # or a threshold change between build and resume): one small
        # collect over the tiny terms table.
        tex = (self.io.read_manifest("terms") or {}).get("extra", {})
        if tex.get("head_terms") is not None \
                and tex.get("head_df_threshold") == cfg.salt_df_threshold:
            head = list(tex["head_terms"])
        else:
            head = [r["term"] for r in
                    self.io.read("terms")
                        .filter(F.col("df") > cfg.salt_df_threshold)
                        .select("term").collect()]
        blocks = build_blocks(postings, head, avgdl, cfg).withColumn(
            "term_bucket", term_bucket_col(F.col("term"), cfg.term_buckets))
        return blocks, head, avgdl

    def _stage_blocks(self, buckets: list[int] | None = None):
        """Compressed posting blocks (operators/postings.py): delta+varint,
        block-max metadata, range-sharded head terms — of every bucket
        (build, refresh_blocks), or of the blocks files holding `buckets`
        (an upsert). Runs after stats so avgdl is available for the
        idf-independent block-max factor."""
        from ..operators.postings import large_arrow_batches

        cfg = self.cfg
        bb = None if buckets is None else \
            self.io.rewrite_set("blocks", buckets)[0]
        blocks, head, avgdl = self._blocks_frame(self._postings_of(bb))
        # avgdl is recorded because max_tfpart bakes it in: WAND's
        # block-max bounds are only tight while the corpus avgdl equals
        # this value. A partial rewrite marks it stale (avgdl=None):
        # untouched buckets bake the OLD avgdl, so WAND falls back to the
        # avgdl-free max_tf bound until refresh_blocks or a full build
        extra = {"head_terms": head, "avgdl": avgdl if bb is None else None}
        if bb is None:
            extra.update(block_size=cfg.block_size,
                         salt_shard_docs=cfg.salt_shard_docs)
        with large_arrow_batches(self.spark):
            return commit_table(self.io, "blocks", blocks, bb, extra=extra)
