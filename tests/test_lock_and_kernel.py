"""Unit tests (no SparkSession) for the commit-lock takeover policy, the
atomic metadata write and the query kernel's posting-uniqueness
verify/repair path.

Lock policy under test (sources/tableio.py:_takeover_dead_lock):
  - a holder whose PID is verifiably ALIVE is never reaped, however old
    the lock file is (long commits heartbeat via _touch_commit_lock);
  - a dead PID is reaped immediately;
  - an inconclusive holder (non-numeric PID, e.g. cross-host) is reaped
    only via the age fallback.

Kernel invariant under test (operators/postings.py:
np_intersect_score_blocks): blocks of one (term, shard) are disjoint
ascending doc-id runs, so the concatenation is strictly ascending and
unique — but if a layout bug ever writes a duplicate (term, doc)
posting, the kernel must detect it (O(n) diff) and repair
deterministically (keep the FIRST posting per doc) rather than let
np.intersect1d(assume_unique=True) silently corrupt scores.
"""
from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np
import pytest

from searchengine_spark.operators.postings import (
    encode_posting_block,
    np_bm25_tfpart,
    np_intersect_score_blocks,
)
from searchengine_spark.sources.tableio import TableIO


# --------------------------------------------------------------------------
# commit-lock takeover
# --------------------------------------------------------------------------

def _write_lock(tmp_path, content: str, age_sec: float = 0.0) -> str:
    lock = str(tmp_path / "_commit.lock")
    with open(lock, "w") as f:
        f.write(content)
    if age_sec:
        old = time.time() - age_sec
        os.utime(lock, (old, old))
    return lock


def test_alive_holder_never_reaped_even_when_ancient(tmp_path):
    # own PID is definitely alive; make the file look 2h old
    lock = _write_lock(tmp_path, str(os.getpid()), age_sec=7200)
    assert TableIO._takeover_dead_lock(lock) is False
    assert os.path.exists(lock)


def test_dead_holder_reaped_immediately(tmp_path):
    # a PID that existed but is gone: spawn-and-reap a child
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    lock = _write_lock(tmp_path, str(proc.pid))  # fresh mtime, dead PID
    assert TableIO._takeover_dead_lock(lock) is True
    assert not os.path.exists(lock)


def test_inconclusive_holder_uses_age_fallback(tmp_path):
    # non-numeric PID (cross-host writer): fresh => keep, ancient => reap
    fresh = _write_lock(tmp_path, "host-b:1234")
    assert TableIO._takeover_dead_lock(fresh) is False
    assert os.path.exists(fresh)
    old = _write_lock(tmp_path, "host-b:1234", age_sec=1800)
    assert TableIO._takeover_dead_lock(old) is True
    assert not os.path.exists(old)


def test_heartbeat_keeps_inconclusive_holder_fresh(tmp_path):
    lock = _write_lock(tmp_path, "host-b:1234", age_sec=1800)
    os.utime(lock)  # what _touch_commit_lock does mid-commit
    assert TableIO._takeover_dead_lock(lock) is False


# --------------------------------------------------------------------------
# metadata writes
# --------------------------------------------------------------------------

def test_meta_reader_never_sees_a_partial_write(tmp_path):
    """write_meta replaces the file atomically: a reader polling
    build_status while other threads rewrite it (statistics() or
    stop_indexing() during an async build) always parses a whole
    record, never a truncated one — also with more writers than cores."""
    import json
    import sys
    import threading

    io = TableIO(None, str(tmp_path))
    io.write_meta("build_status", {"status": "INDEXING", "stage": None})
    stop = threading.Event()

    def writer(w):
        i = 0
        while not stop.is_set():
            io.write_meta("build_status", {"status": "INDEXING",
                                           "stage": f"stage-{w}-{i}",
                                           "error": None})
            i += 1

    writers = [threading.Thread(target=writer, args=(w,), daemon=True)
               for w in range((os.cpu_count() or 1) + 2)]
    old_switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    reads = torn = 0
    try:
        for th in writers:
            th.start()
        deadline = time.monotonic() + 1.0
        while time.monotonic() < deadline:
            try:
                assert io.read_meta("build_status")["status"] == "INDEXING"
            except json.JSONDecodeError:
                torn += 1
            reads += 1
    finally:
        stop.set()
        for th in writers:
            th.join(timeout=10)
        sys.setswitchinterval(old_switch)
    assert not any(th.is_alive() for th in writers)
    assert reads > 100
    assert torn == 0, f"{torn} of {reads} reads saw a partial file"
    # no tmp file is left beside the record
    assert [n for n in os.listdir(tmp_path) if ".tmp" in n] == []


# --------------------------------------------------------------------------
# kernel uniqueness verify/repair
# --------------------------------------------------------------------------

K1, B, AVGDL = 1.2, 0.75, 10.0


def _block(docs, tfs, dls):
    docs_bin, tfs_bin, dls_bin = encode_posting_block(docs, tfs, dls)
    return (docs_bin, tfs_bin, dls_bin, docs[0], docs[-1])


def _score(idf, tf, dl):
    return idf * float(np_bm25_tfpart(np.array([tf], dtype=np.float64),
                                      np.array([dl], dtype=np.float64),
                                      AVGDL, K1, B)[0])


def test_kernel_clean_layout_fast_path():
    blocks = {
        "a": [_block([1, 3, 5], [2, 1, 4], [10, 10, 10]),
              _block([7, 9], [1, 1], [10, 10])],
        "b": [_block([3, 7, 11], [1, 2, 1], [10, 10, 10])],
    }
    idf = {"a": 1.0, "b": 2.0}
    docs, scores = np_intersect_score_blocks(
        blocks, ["b", "a"], idf, AVGDL, K1, B)
    assert docs.tolist() == [3, 7]
    exp3 = _score(2.0, 1, 10) + _score(1.0, 1, 10)
    exp7 = _score(2.0, 2, 10) + _score(1.0, 1, 10)
    np.testing.assert_allclose(scores, [exp3, exp7], rtol=1e-12)


def test_kernel_repairs_duplicate_posting_keep_first():
    # doc 5 appears in BOTH blocks of term "a" (layout-invariant
    # violation): the kernel must keep the FIRST posting (tf=4) and
    # drop the second (tf=9), not double-count or corrupt intersect1d
    blocks = {
        "a": [_block([1, 5], [2, 4], [10, 10]),
              _block([5, 9], [9, 1], [10, 10])],
        "b": [_block([5, 9], [1, 1], [10, 10])],
    }
    idf = {"a": 1.0, "b": 2.0}
    docs, scores = np_intersect_score_blocks(
        blocks, ["b", "a"], idf, AVGDL, K1, B)
    assert docs.tolist() == [5, 9]
    exp5 = _score(2.0, 1, 10) + _score(1.0, 4, 10)  # tf=4, NOT 9 or 13
    exp9 = _score(2.0, 1, 10) + _score(1.0, 1, 10)
    np.testing.assert_allclose(scores, [exp5, exp9], rtol=1e-12)


def test_kernel_repairs_out_of_order_blocks():
    # blocks delivered out of (shard, doc_min) order: repair sorts
    blocks = {
        "a": [_block([7, 9], [1, 1], [10, 10]),
              _block([1, 3], [2, 1], [10, 10])],
    }
    docs, scores = np_intersect_score_blocks(
        blocks, ["a"], {"a": 1.0}, AVGDL, K1, B)
    assert docs.tolist() == [1, 3, 7, 9]
    assert np.all(np.diff(docs) > 0)
