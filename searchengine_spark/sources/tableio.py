"""Table IO seam + build manifest (checkpoint/resume + per-file lineage).

The target deployment writes Iceberg tables (`df.writeTo(...).append()`,
snapshot per stage). This sandbox has no Iceberg runtime jar, so the seam
writes plain parquet directories and emulates the snapshot/manifest layer
with JSON files — the build plan only talks to this module, so swapping in
Iceberg is a one-file change.

Layout: a bucketed table (docs by url_bucket; postings, terms, site_stats
and blocks by term_bucket) is ONE flat directory of parquet files, written
with no partitionBy: one file per write task, min(buckets, cores) files,
each holding whole buckets sorted (bucket, <the table's sort keys>) and
storing the bucket as a plain column. The bucket count sets the logical
layout (doc ids, pruning granularity); the core count sets the file count.

Every table write — the build's, an upsert's, a blocks refresh — commits
through one method, replace_buckets: the whole table, or only the files
holding some buckets, replaced by the crash-safe side-dir → move →
manifest-swap protocol described there.

Manifest model (north_rule: "resumable from checkpoint with per-partition
lineage + metrics"): one JSON per completed stage under <work>/_manifest/:

    {stage, status, rows, bytes, wall_ms,
     files: [{path, rows, bytes, buckets}, ...],
     schema, extra: {...}, format_version}

`files` is the per-file lineage — one entry per parquet part file, row
counts read from parquet footers and `buckets` (the sorted set of bucket
values the file holds) from its bucket column, both on the driver (no
Spark job). Readers prune through it: read(table, buckets) pins only the
files whose bucket set meets the requested buckets, the Iceberg analog of
manifest-level partition pruning. `schema` is the table's read schema
(Spark StructType JSON), taken from the frame the writer wrote, so a
pinned read never starts a schema-inference job. A stage is resumable iff
its manifest says status=complete and the data dir exists; the
reference's analog is the site status row lifecycle
(services/IndexingServiceImpl.java:80-108,165-171).

`format_version` is the on-disk index format the manifest was written
under (FORMAT_VERSION). The engine reads exactly one format: an index
whose manifests carry another version, or none, is refused with a
rebuild instruction (check_format_version) instead of being read through
per-layout fallbacks.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# the threshold is session-wide, and the build's concurrent branches read
# tables from several threads (through any TableIO on the session): the
# save/set/restore in read() must not interleave, or a reader could
# "restore" another reader's raised value
_DISCOVERY_LOCK = threading.Lock()

# The on-disk index format this code writes and reads. Bump it with any
# change that makes tables written by older code unreadable (a column, a
# file-ordering contract, a file layout); such indexes must be rebuilt.
# Version 2: table manifests carry their read schema. Version 3: bucketed
# tables are flat min(buckets, cores)-file directories whose manifest
# entries carry each file's bucket set (no hive bucket directories).
FORMAT_VERSION = 3


@dataclass
class StageResult:
    stage: str
    status: str
    rows: int
    bytes: int
    wall_ms: int
    files: list[dict] = field(default_factory=list)
    extra: dict[str, Any] = field(default_factory=dict)
    schema: dict | None = None  # read schema (StructType JSON) of a table

    def to_json(self) -> dict:
        return {
            "stage": self.stage, "status": self.status, "rows": self.rows,
            "bytes": self.bytes, "wall_ms": self.wall_ms, "files": self.files,
            "schema": self.schema, "extra": self.extra,
        }


def in_buckets(df: DataFrame, col: str, values: list,
               n_buckets: int) -> DataFrame:
    """df's rows whose bucket column is in values. values are distinct
    buckets of range(n_buckets): when they cover every bucket the filter
    would keep every row, so none is applied."""
    if len(values) >= n_buckets:
        return df
    return df.filter(F.col(col).isin(values))


def _crc(path: str) -> str:
    """The hidden `.<name>.crc` checksum sidecar the Hadoop local
    filesystem writes beside a data file."""
    return os.path.join(os.path.dirname(path),
                        f".{os.path.basename(path)}.crc")


def _remove_data_file(path: str) -> None:
    """Delete a data file and its checksum sidecar."""
    os.remove(path)
    if os.path.exists(_crc(path)):
        os.remove(_crc(path))


class TableIO:
    """Parquet-dir tables + JSON stage manifests under one work dir."""

    def __init__(self, spark: SparkSession, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self.manifest_dir = os.path.join(work_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # --- paths ---------------------------------------------------------

    def path(self, table: str) -> str:
        return os.path.join(self.work_dir, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(p) for f in fs
        )

    # --- manifest ------------------------------------------------------

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.manifest_dir, f"{stage}.json")

    def stage_complete(self, stage: str) -> bool:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            return json.load(f).get("status") == "complete"

    def read_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def write_manifest(self, result: StageResult) -> None:
        """Atomic: the manifest IS the commit point (snapshot swap), so it
        must never be observable half-written."""
        _write_json(self._manifest_path(result.stage),
                    {**result.to_json(), "format_version": FORMAT_VERSION})

    def invalidate_from(self, stages: list[str], first_dirty: str) -> None:
        """Drop manifests (and data) for first_dirty and everything after."""
        if first_dirty not in stages:
            return
        for s in stages[stages.index(first_dirty):]:
            m = self._manifest_path(s)
            if os.path.exists(m):
                os.remove(m)
            d = self.path(s)
            if os.path.isdir(d):
                shutil.rmtree(d)

    # --- write/read ----------------------------------------------------

    def write_tasks(self, n_values: int) -> int:
        """Write tasks, hence files, for n_values bucket values:
        min(n_values, cores), at least one."""
        return max(1, min(n_values,
                          self.spark.sparkContext.defaultParallelism))

    def cluster(self, df: DataFrame, col: str, n_values: int) -> DataFrame:
        """Hash-repartition df by col into write_tasks(n_values) tasks.
        Each value of col lands wholly in one task, so the bucketed write
        gives one file per task holding whole buckets in the requested
        order (the exchange-free blocks encoder needs that: a term never
        spans two files) — the file count follows the cores, not the
        bucket count."""
        return df.repartition(self.write_tasks(n_values), col)

    @staticmethod
    def _bucketed(df: DataFrame, bucket_col: str,
                  sort_by: list[str] | None) -> DataFrame:
        """The one write layout of a bucketed table: the bucket column
        last (the column order readers see), each task's rows sorted by
        (bucket, *sort_by) — so every file holds its buckets as
        contiguous runs in the table's data order, and parquet row-group
        stats on the bucket column prune within a file."""
        df = df.select(*[c for c in df.columns if c != bucket_col],
                       bucket_col)
        return df.sortWithinPartitions(bucket_col, *(sort_by or []))

    def _file_entries(self, paths: list[str], dests: list[str],
                      bucket_col: str) -> list[dict]:
        """Manifest entries {path, rows, bytes, buckets} of the parquet
        files `paths`, recorded under their final locations `dests`. Row
        counts come from the footers and the bucket set from the file's
        bucket column. The reads are I/O-bound and independent — a thread
        pool keeps this driver-side lineage pass off the critical path
        (serial walks were a fixed per-stage cost that parallelism can't
        amortize)."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.compute as pc

        def _stat(fp, dest):
            f = pq.ParquetFile(fp)
            col = f.read(columns=[bucket_col]).column(0)
            return {"path": os.path.relpath(dest, self.work_dir),
                    "rows": f.metadata.num_rows,
                    "bytes": os.path.getsize(fp),
                    "buckets": sorted(v for v in pc.unique(col).to_pylist()
                                      if v is not None)}

        with ThreadPoolExecutor(max_workers=16) as ex:
            return list(ex.map(_stat, paths, dests))

    @staticmethod
    def _parquet_files(d: str) -> list[str]:
        # sorted: the lineage (and so the pinned reads' file order) must
        # not depend on the directory listing order
        return sorted(os.path.join(root, fn) for root, _, fs in os.walk(d)
                      for fn in fs if fn.endswith(".parquet"))

    def _pinned(self, table: str, m: dict, buckets) -> list[str]:
        """Absolute paths of the manifest's files whose bucket set meets
        buckets (every file when buckets is None), after the strictness
        checks read() documents."""
        if m.get("status") != "complete":
            raise RuntimeError(
                f"table '{table}' manifest status is "
                f"{m.get('status')!r} — stage aborted/incomplete; resume "
                "the build instead of reading it")
        _check_version(m, self.work_dir, f"{table}.json")
        want = None if buckets is None else set(buckets)
        files = [os.path.join(self.work_dir, f["path"])
                 for f in m.get("files", [])
                 if want is None or not want.isdisjoint(f["buckets"])]
        missing = [p for p in files if not os.path.exists(p)]
        if missing:
            raise RuntimeError(
                f"table '{table}' manifest references {len(missing)} "
                f"missing file(s) (first: {missing[0]}) — committed data "
                "was deleted out-of-band; rebuild the stage")
        return files

    def pinned_files(self, table: str, buckets=None
                     ) -> tuple[list[str], StructType | None]:
        """(files, read schema) of the table's committed snapshot, pruned
        to the files holding any of `buckets` — what read() scans, for
        readers outside Spark (the pyarrow serving path). A manifest-less
        directory (fresh build in progress) gives all its files and no
        schema."""
        m = self.read_manifest(table)
        if m is None:
            return self._parquet_files(self.path(table)), None
        return (self._pinned(table, m, buckets),
                StructType.fromJson(m["schema"]))

    def read(self, table: str, buckets=None) -> DataFrame:
        """Manifest-pinned read (snapshot isolation, Iceberg-style): when a
        stage manifest exists, read exactly ITS file list — not whatever
        the directory currently holds — so an interrupted file replacement
        (which adds new-generation files before the manifest swap) can
        never surface duplicate or partial data. buckets: pin only the
        files whose bucket set meets them (file pruning through the
        manifest); the rows of those files' other buckets come along, so
        callers that need exactly `buckets` keep a row filter. The
        manifest's schema spares Spark its schema-inference job.

        Strictness: a COMPLETE manifest whose listed files are missing on
        disk is corruption (someone deleted committed data) — raise rather
        than silently serving a partial snapshot. A non-complete (aborted)
        manifest likewise raises: readers must resume/rebuild the stage,
        never consume a half-written table; so does a manifest of another
        format_version. Only a manifest-less directory (fresh build in
        progress) gets the raw read."""
        base = self.path(table)
        m = self.read_manifest(table)
        if m is None:
            return self.spark.read.parquet(base)
        files = self._pinned(table, m, buckets)
        schema = StructType.fromJson(m["schema"])
        if not files:
            return self.spark.createDataFrame([], schema)
        # list the pinned files on the driver: above the threshold (32
        # paths) Spark lists them with a distributed job — one extra job
        # and ~0.4 s per read on a 4-core host, for a listing the
        # os.path.exists pass above already did on the driver
        conf = self.spark.conf
        with _DISCOVERY_LOCK:
            old = conf.get(_DISCOVERY_THRESHOLD, None)
            conf.set(_DISCOVERY_THRESHOLD, str(len(files)))
            try:
                return (self.spark.read.schema(schema)
                        .option("basePath", base).parquet(*files))
            finally:
                if old is None:
                    conf.unset(_DISCOVERY_THRESHOLD)
                else:
                    conf.set(_DISCOVERY_THRESHOLD, old)

    def rewrite_set(self, table: str, buckets) -> tuple[list[int], int]:
        """(R, k): the buckets a rewrite of `buckets` must replace in table
        and the number of live files holding them. R is the union of the
        bucket sets of the files holding any of `buckets`, closed so that
        no other live file holds a bucket of R — the file is the smallest
        unit a rewrite replaces, so read(table, R) gives exactly the rows
        of the buckets in R and replace_buckets(..., R) drops exactly
        those k files."""
        files = [set(f["buckets"])
                 for f in (self.read_manifest(table) or {}).get("files", [])]
        want = set(buckets)
        while True:
            hit = [b for b in files if not want.isdisjoint(b)]
            grown = want.union(*hit)
            if grown == want:
                return sorted(want), len(hit)
            want = grown

    # --- commit lock ----------------------------------------------------
    #
    # Writers are SINGLE-WRITER by contract (one build/upsert/vacuum at a
    # time per work_dir — the Iceberg analog is optimistic-concurrency
    # commit conflict detection, which this parquet emulation does not
    # implement). The lock below guards the one race that would corrupt
    # data even under honest single-writer use: vacuum() running while a
    # replace_buckets commit is mid-flight (its fresh gen-* files are
    # on disk but not yet in the manifest, so an unguarded vacuum would
    # delete them and the subsequent manifest swap would commit references
    # to deleted files).

    def _acquire_commit_lock(self, blocking: bool) -> bool:
        lock = os.path.join(self.work_dir, "_commit.lock")
        # deadline must exceed the stale-age threshold, else a recent hard
        # crash would spin the full deadline and fail instead of taking
        # the dead writer's lock over
        deadline = time.monotonic() + 1200.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return True
            except FileExistsError:
                if self._takeover_dead_lock(lock):
                    continue
                if not blocking:
                    return False
                if time.monotonic() > deadline:
                    raise TimeoutError(f"commit lock held too long: {lock}")
                time.sleep(0.05)

    @staticmethod
    def _takeover_dead_lock(lock: str) -> bool:
        """Remove the lock iff its holder is provably gone (the recorded
        PID is not alive — same-host writers, the single-writer contract).
        The age fallback applies ONLY when liveness is inconclusive
        (non-numeric PID, e.g. a cross-host writer): a holder that
        os.kill(pid, 0) confirms alive is NEVER reaped, however old the
        file — long commit sections touch the lock mtime periodically
        (_touch_commit_lock) so inconclusive holders stay fresh too.

        Reap = rename-to-unique THEN unlink: rename is atomic, so of two
        waiters that both saw the dead lock only one's rename succeeds —
        the loser can no longer unlink a fresh lock the winner just
        created at the original path. The (dev, ino) re-stat before the
        rename keeps the remaining TOCTOU at syscall width (and a false
        reap additionally requires PID reuse)."""
        try:
            st = os.stat(lock)
            with open(lock) as f:
                pid_txt = f.read().strip()
        except OSError:
            return True  # holder released; caller retries the create
        dead = False
        if pid_txt.isdigit():
            try:
                os.kill(int(pid_txt), 0)
                return False  # provably ALIVE: age never overrides
            except ProcessLookupError:
                dead = True
            except PermissionError:
                return False  # alive under another uid
            except OSError:
                pass  # inconclusive — fall through to the age check
        if not dead and time.time() - st.st_mtime <= 900:
            return False
        try:
            st2 = os.stat(lock)
            if (st2.st_dev, st2.st_ino) != (st.st_dev, st.st_ino):
                return False  # replaced by a live writer meanwhile
            tomb = f"{lock}.reap-{uuid.uuid4().hex[:12]}"
            os.rename(lock, tomb)
            os.remove(tomb)
        except OSError:
            pass
        return True

    def _touch_commit_lock(self) -> None:
        """Heartbeat for long-held commit sections: refresh the lock mtime
        so the age fallback (which only fires for liveness-inconclusive
        holders) never reaps a live writer mid-commit."""
        try:
            os.utime(os.path.join(self.work_dir, "_commit.lock"))
        except OSError:
            pass

    def _release_commit_lock(self) -> None:
        try:
            os.remove(os.path.join(self.work_dir, "_commit.lock"))
        except FileNotFoundError:
            pass

    def vacuum(self, table: str) -> int:
        """Delete data files not referenced by the table's manifest, with
        their checksum sidecars — debris from an interrupted or finished
        file replacement. Returns the number
        of files removed. Takes the commit lock: if a LIVE commit is in
        flight its uncommitted gen-* files must survive, so the
        non-blocking acquire skips and the committer vacuums after its
        manifest swap. A dead holder's lock is taken over immediately
        (PID-liveness check), so a hard crash never blocks cleanup.
        Readers never need it: every reader, the pyarrow serving path
        included, reads the manifest's files only."""
        if not self._acquire_commit_lock(blocking=False):
            return 0
        try:
            return self._vacuum_locked(table)
        finally:
            self._release_commit_lock()

    def _vacuum_locked(self, table: str) -> int:
        m = self.read_manifest(table)
        if m is None:
            return 0
        live = {os.path.join(self.work_dir, f["path"]) for f in m["files"]}
        removed = 0
        for fp in self._parquet_files(self.path(table)):
            if fp not in live:
                _remove_data_file(fp)
                removed += 1
        return removed

    def replace_buckets(self, df: DataFrame, table: str, bucket_col: str,
                        buckets: list | None = None,
                        sort_by: list[str] | None = None,
                        extra: dict | None = None) -> StageResult:
        """Commit df as the table's new files — the one write path of every
        table, and the parquet-dir emulation of an Iceberg file-level
        overwrite. df's write tasks become the files (callers size them
        with cluster()); each is laid out by _bucketed(bucket_col,
        sort_by) and its bucket set recorded in the manifest.

        buckets=None replaces the whole table: every live file goes and
        the fresh manifest holds `extra` and this write's wall_ms.
        Otherwise only the live files holding any of `buckets` are
        replaced (MERGE rewriting the touched data files): df must hold
        exactly the replacement rows for `buckets`, and `buckets` must
        cover every bucket of the files it replaces (rewrite_set gives
        that set) — a replaced file's other buckets, or a df row outside
        `buckets`, would otherwise be lost or duplicated, so either case
        raises before anything moves. `extra` is merged into the old
        manifest's and wall_ms added to its running total. A bucket with
        no rows in df is dropped.

        Crash-safe commit protocol (snapshot emulation):
          1. write the replacement data to a side directory (a df whose
             lineage reads the target table is therefore safe);
          2. vacuum debris from any earlier interrupted commit;
          3. move the new files INTO the table dir under generation-
             unique names — old files are NOT touched;
          4. atomically swap the manifest (the commit point): every read
             is manifest-pinned (see read(), pinned_files()), so before
             the swap readers see exactly the old snapshot, after it
             exactly the new;
          5. vacuum the superseded files.
        A crash at any step leaves a readable old snapshot plus orphan
        files the next commit's vacuum removes."""
        tmp = os.path.join(self.work_dir, f"_tmp_{table}")
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.monotonic()
        # the Spark write (step 1, side dir) runs outside the lock — it
        # touches no live files; the lock covers vacuum + move + swap.
        # The side dir is this writer's own: it goes on every exit path
        try:
            df = self._bucketed(df, bucket_col, sort_by)
            df.write.mode("overwrite").parquet(tmp)
            self._acquire_commit_lock(blocking=True)
            try:
                return self._commit_files(df, table, bucket_col, buckets,
                                          extra, tmp, t0)
            finally:
                self._release_commit_lock()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _commit_files(self, df, table, bucket_col, buckets, extra, tmp,
                      t0) -> StageResult:
        self._vacuum_locked(table)
        # a whole-table write keeps nothing of the old snapshot
        old = {} if buckets is None else (self.read_manifest(table) or {})
        want = set(buckets or ())
        keep = []
        for f in old.get("files", []):
            held = set(f["buckets"])
            if want.isdisjoint(held):
                keep.append(f)
            elif not held <= want:
                raise RuntimeError(
                    f"table '{table}': {f['path']} holds buckets "
                    f"{sorted(held - want)} outside the replaced set — "
                    "replace rewrite_set()'s buckets")

        gen = uuid.uuid4().hex[:12]
        target = self.path(table)
        os.makedirs(target, exist_ok=True)
        src = self._parquet_files(tmp)
        dst = [os.path.join(target, f"gen-{gen}-{os.path.basename(fp)}")
               for fp in src]
        entries = self._file_entries(src, dst, bucket_col)
        stray = set().union(*(e["buckets"] for e in entries)) - want
        if buckets is not None and stray:
            raise RuntimeError(
                f"table '{table}': replacement rows in buckets "
                f"{sorted(stray)} outside the replaced set")
        fresh = []
        for fp, out, entry in zip(src, dst, entries):
            if entry["rows"]:  # an empty task's file holds no bucket
                self._touch_commit_lock()  # heartbeat: long moves
                shutil.move(fp, out)
                if os.path.exists(_crc(fp)):  # the checksum goes along
                    shutil.move(_crc(fp), _crc(out))
                fresh.append(entry)
        wall_ms = int((time.monotonic() - t0) * 1000)

        files = keep + fresh
        result = StageResult(
            stage=table, status="complete",
            rows=sum(f["rows"] for f in files),
            bytes=sum(f["bytes"] for f in files),
            wall_ms=old.get("wall_ms", 0) + wall_ms,
            files=files, extra={**old.get("extra", {}), **(extra or {})},
            schema=df.schema.jsonValue())
        self.write_manifest(result)  # atomic commit point
        self._vacuum_locked(table)
        return result

    # --- scalar metadata (corpus stats etc.) ----------------------------

    def write_meta(self, name: str, payload: dict) -> None:
        """Atomic, like write_manifest: a concurrent reader (statistics()
        or stop_indexing() during an async build) sees the old record or
        the new one, never a truncated file."""
        _write_json(os.path.join(self.work_dir, f"{name}.json"), payload)

    def read_meta(self, name: str) -> dict:
        with open(os.path.join(self.work_dir, f"{name}.json")) as f:
            return json.load(f)


def _write_json(path: str, payload: dict) -> None:
    """Write payload to path through a tmp file and os.replace, so path
    always holds a whole document. The tmp name is unique per thread:
    two writers of one path never share a half-written tmp file."""
    tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
    with open(tmp, "w") as f:
        json.dump(payload, f, ensure_ascii=False, indent=1)
    os.replace(tmp, path)


def _check_version(manifest: dict, work_dir: str, fn: str) -> None:
    found = manifest.get("format_version")
    if found != FORMAT_VERSION:
        raise RuntimeError(
            f"index at {work_dir} has on-disk format {found!r} "
            f"(stage manifest {fn}); this engine reads format "
            f"{FORMAT_VERSION} — rebuild this index with build_index")


def check_format_version(io: TableIO) -> None:
    """Refuse an existing index written in another on-disk format: every
    stage manifest must carry FORMAT_VERSION. A work dir without
    manifests (nothing built yet) passes."""
    for fn in sorted(os.listdir(io.manifest_dir)):
        if not fn.endswith(".json"):
            continue
        with open(os.path.join(io.manifest_dir, fn)) as f:
            _check_version(json.load(f), io.work_dir, fn)


def resolve_layout(io: TableIO, cfg):
    """Return cfg overridden with the layout parameters the index was
    actually BUILT with, read from the stage manifests (postings: term
    bucket count; blocks: head-term shard width and block size), after
    check_format_version refuses an index in another on-disk format.

    Every query path must derive its pruning buckets from the on-disk
    layout, not from live config: an index built with term_buckets=16 read
    under cfg term_buckets=64 would hash every term to the wrong bucket
    and silently return no rows. Config is only the fallback when no
    manifest exists (fresh build)."""
    import dataclasses

    check_format_version(io)
    over = {}
    dm = io.read_manifest("docs")
    if dm and "doc_id_buckets" in dm.get("extra", {}):
        over["doc_id_buckets"] = int(dm["extra"]["doc_id_buckets"])
    pm = io.read_manifest("postings")
    if pm and "term_buckets" in pm.get("extra", {}):
        over["term_buckets"] = int(pm["extra"]["term_buckets"])
    bm = io.read_manifest("blocks")
    if bm:
        extra = bm.get("extra", {})
        if "salt_shard_docs" in extra:
            over["salt_shard_docs"] = int(extra["salt_shard_docs"])
        if "block_size" in extra:
            over["block_size"] = int(extra["block_size"])
    return dataclasses.replace(cfg, **over) if over else cfg
