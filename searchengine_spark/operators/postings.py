"""Compressed posting-block codec + block build stage (north_star format).

Replaces the reference's row-per-posting MySQL `index` table
(model/SearchIndex.java:11-27, one row per (page, lemma, rank)) with a
columnar block layout:

    one row per (term, shard, block) of up to `block_size` postings:
      docs_bin  = delta-gap doc_ids, varint        (sorted ascending)
      tfs_bin   = term frequencies, varint
      dls_bin   = document lengths, varint         (so BM25 needs no doc join)
      doc_min / doc_max / n                        (range metadata for skipping)
      max_tf / max_tfpart                          (block-max metadata)

`max_tfpart` is the idf-independent BM25 factor
    tfpart(tf, dl) = tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))
maximized over the block; a block's score upper bound for a term is
`idf(term) * max_tfpart`, so block-max WAND needs no terms join at build
time — idf multiplies in at query time (plans/wand.py).

Skew handling (north_rule "explicit skew mitigation for stopword-heavy
terms"): terms whose df exceeds `salt_df_threshold` are RANGE-SHARDED on
doc_id (`shard = doc_id // salt_shard_docs`); every other term gets shard 0.
The build groupBy key is (term, shard), so no single task ever materializes
a full stopword posting list. Because sharding is by doc RANGE (not hash
salt), per-shard block streams are disjoint and ordered — global posting
order needs zero merge pass, and shard boundaries align with the WAND
range partitioning (range = shard width). block_id is sequential within
a (term, shard) run PER ENCODE TASK only: a postings file larger than
maxPartitionBytes splits mid-run and each split restarts the counter,
so (term, shard, block_id) is NOT a global key — no engine
path uses it as one (WAND and serving order blocks by (shard, doc_min);
block ranges stay disjoint either way). Consumers must never rely on
block_id beyond per-task ordering.

Both codec directions are numpy-vectorized over whole Arrow batches
(np_varint_encode_concat / np_varint_decode) — no per-posting Python in
either the build or the query hot path. The scalar codec
(varint_encode/delta_encode) is kept as the property-test reference; the
two are byte-identical by construction and test.
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..config import EngineConfig

# --- varint / delta codec (LEB128-style, unsigned) ---------------------------


def varint_encode(values: Iterable[int]) -> bytes:
    values = list(values)
    # fast path: every value fits one varint byte (the common case for
    # delta gaps and tfs) — a raw bytes() copy, no per-element loop
    if values and 0 <= min(values) and max(values) < 0x80:
        return bytes(values)
    out = bytearray()
    for v in values:
        if v < 0:
            raise ValueError(f"varint is unsigned, got {v}")
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def varint_decode(buf: bytes) -> list[int]:
    out: list[int] = []
    cur = 0
    shift = 0
    for b in buf:
        cur |= (b & 0x7F) << shift
        if b & 0x80:
            shift += 7
        else:
            out.append(cur)
            cur = 0
            shift = 0
    if shift:
        raise ValueError("truncated varint stream")
    return out


def delta_encode(sorted_ids: list[int]) -> list[int]:
    """Ascending doc_ids -> [first, gap, gap, ...] (gaps ≥ 1 ⇒ store gap-1
    would save little; we store raw gaps for simplicity/debuggability)."""
    if not sorted_ids:
        return []
    out = [sorted_ids[0]]
    prev = sorted_ids[0]
    for v in sorted_ids[1:]:
        if v <= prev:
            raise ValueError("doc_ids must be strictly ascending")
        out.append(v - prev)
        prev = v
    return out


def delta_decode(deltas: list[int]) -> list[int]:
    out: list[int] = []
    cur = 0
    for i, d in enumerate(deltas):
        cur = d if i == 0 else cur + d
        out.append(cur)
    return out


def encode_posting_block(doc_ids: list[int], tfs: list[int],
                         dls: list[int]) -> tuple[bytes, bytes, bytes]:
    return (varint_encode(delta_encode(doc_ids)),
            varint_encode(tfs),
            varint_encode(dls))


def decode_posting_block(docs_bin: bytes, tfs_bin: bytes,
                         dls_bin: bytes) -> tuple[list[int], list[int], list[int]]:
    return (delta_decode(varint_decode(docs_bin)),
            varint_decode(tfs_bin),
            varint_decode(dls_bin))


def bm25_tfpart(tf: float, dl: float, avgdl: float,
                k1: float = 1.2, b: float = 0.75) -> float:
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_idf(n_docs: int, df: int) -> float:
    """The engine's BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


# --- vectorized (numpy) decode — the query-path hot kernels ------------------
#
# The per-row Python loops these replace were the documented slow path of
# WAND tasks and driver serving (decode + tfpart per posting). The numpy
# forms below are pure array ops over the same byte layout — no layout
# change, byte-identical results (property-tested against the scalar codec).


def np_varint_decode(buf: bytes):
    """varint stream -> int64 ndarray, fully vectorized.

    General case: terminator bytes (high bit clear) end each value; the
    byte's 7-bit payload is shifted by 7·(position within its value) and
    summed per value with np.add.reduceat. Fast path: no continuation bits
    at all (the common case for delta gaps and tfs) is a plain cast."""
    import numpy as np

    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0:
        return np.empty(0, dtype=np.int64)
    if a[-1] & 0x80:
        raise ValueError("truncated varint stream")
    cont = (a & 0x80) != 0
    if not cont.any():
        return a.astype(np.int64)
    term = ~cont
    ends = np.flatnonzero(term)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    gid = np.cumsum(term) - term  # group index of each byte
    offsets = np.arange(a.size, dtype=np.int64) - starts[gid]
    payload = (a & 0x7F).astype(np.int64) << (7 * offsets)
    return np.add.reduceat(payload, starts)


def np_varint_encode_concat(values):
    """int64 ndarray -> (concatenated varint byte stream, per-value END byte
    offsets). Byte-identical to varint_encode applied per value — minimal
    LEB128 length, so both encoders produce the same bytes (property-tested).
    Vectorized: byte counts via 9 threshold compares (ceil(63/7) bytes max
    for int64), then one scatter pass per byte position (≤9, usually 1-2
    since delta gaps and tfs are small)."""
    import numpy as np

    v = np.asarray(values)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    if int(v.min()) < 0:
        raise ValueError("varint is unsigned")
    u = v.astype(np.uint64)
    nb = np.ones(v.size, dtype=np.int64)
    for k in range(1, 9):
        nb += (u >= np.uint64(1) << np.uint64(7 * k))
    ends = np.cumsum(nb)
    starts = ends - nb
    buf = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(int(nb.max())):
        m = nb > k
        byte = ((u[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[m] > k + 1).astype(np.uint8)
        buf[starts[m] + k] = byte | (cont << 7)
    return buf.tobytes(), ends


def np_decode_posting_block(docs_bin: bytes, tfs_bin: bytes, dls_bin: bytes):
    """(doc_ids, tfs, dls) int64 ndarrays; doc_ids via cumsum delta decode."""
    import numpy as np

    return (np.cumsum(np_varint_decode(docs_bin)),
            np_varint_decode(tfs_bin),
            np_varint_decode(dls_bin))


def np_bm25_tfpart(tf, dl, avgdl: float, k1: float = 1.2, b: float = 0.75):
    """Vectorized idf-independent BM25 factor over posting arrays (or
    scalars). Operation order mirrors the scalar bm25_tfpart exactly
    ((b·dl)/avgdl, not b·(dl/avgdl)) so both paths produce bit-identical
    doubles."""
    import numpy as np

    t = np.asarray(tf, dtype="float64")
    d = np.asarray(dl, dtype="float64")
    return t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * d / avgdl))


def bm25_tfpart_col(tf: Column, dl: Column, avgdl: float,
                    k1: float, b: float) -> Column:
    """np_bm25_tfpart as a Catalyst expression, same operation order —
    the Spark paths' BM25 term factor (times idf for the term score)."""
    return (tf * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b)
                                 + F.lit(b) * dl / F.lit(avgdl))))


def np_intersect_score_blocks(per_term_blocks, term_order, idf,
                              avgdl: float, k1: float, b: float,
                              window=None):
    """Rarest-first AND intersection with doc-range block skipping over
    compressed posting blocks — the query kernel. Its one caller is
    rank_blocks, which the WAND tasks (plans/wand.py) and the driver
    serving path (plans/serve.py) share, so the two stay score-identical.

    per_term_blocks: term -> list of (docs_bin, tfs_bin, dls_bin,
    doc_min, doc_max), in (shard, doc_min) order. window=(lo, hi)
    restricts the FIRST term's postings to lo <= doc < hi (WAND range
    tasks; later terms are implicitly restricted by the intersection).
    Returns (doc_ids, scores) int64/float64 ndarrays, doc-ascending."""
    import numpy as np

    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    cand_docs = None  # ascending, unique
    cand_scores = None
    for t in term_order:
        blocks = per_term_blocks[t]
        if cand_docs is not None:
            if cand_docs.size == 0:
                return empty
            lo, hi = int(cand_docs[0]), int(cand_docs[-1])
            blocks = [r for r in blocks if r[4] >= lo and r[3] <= hi]
        parts_d, parts_s = [], []
        idf_t = idf[t]
        for docs_bin, tfs_bin, dls_bin, _, _ in blocks:
            ds, ts, ls = np_decode_posting_block(
                bytes(docs_bin), bytes(tfs_bin), bytes(dls_bin))
            if cand_docs is None and window is not None:
                m = (ds >= window[0]) & (ds < window[1])
                ds, ts, ls = ds[m], ts[m], ls[m]
            if ds.size:
                parts_d.append(ds)
                parts_s.append(idf_t * np_bm25_tfpart(ts, ls, avgdl, k1, b))
        if not parts_d:
            return empty  # AND semantics: term absent => no hit
        d_all = np.concatenate(parts_d)
        s_all = np.concatenate(parts_s)
        # blocks of one (term, shard) are disjoint ascending runs, so the
        # concatenation SHOULD already be strictly ascending and unique —
        # but correctness must not depend on layout: verify (one O(n)
        # diff), and if an invariant is ever violated (e.g. a duplicate
        # (term, doc) posting written by an incremental-rewrite bug)
        # repair deterministically — sort, then keep the FIRST posting of
        # each doc — instead of letting assume_unique corrupt scores
        if d_all.size > 1 and not (np.diff(d_all) > 0).all():
            order = np.argsort(d_all, kind="stable")
            d_all, s_all = d_all[order], s_all[order]
            keep = np.empty(d_all.size, dtype=bool)
            keep[0] = True
            np.not_equal(d_all[1:], d_all[:-1], out=keep[1:])
            d_all, s_all = d_all[keep], s_all[keep]
        if cand_docs is None:
            cand_docs, cand_scores = d_all, s_all
        else:
            # sound: both sides verified/repaired to sorted-unique above
            common, ia, ib = np.intersect1d(
                cand_docs, d_all, assume_unique=True, return_indices=True)
            cand_docs = common
            cand_scores = cand_scores[ia] + s_all[ib]
    if cand_docs is None:
        return empty
    return cand_docs, cand_scores


def rank_blocks(tbl, terms, avgdl: float, k1: float, b: float, kprime: int,
                range_w: int | None = None, tf_bounds: bool = False,
                count: bool = False):
    """(top, matches) of a pyarrow table of block rows: the ≤ kprime best
    (doc_id, score), best-first under (score desc, doc_id asc), and the
    number of docs matching every term in the ranges scored. The one
    block scorer of the driver path (plans/serve.py: the whole table is
    one range) and the WAND tasks (plans/wand.py: a group of doc ranges).
    terms: [{term, idf}] rarest-first.

    range_w: the table has a range_id column, and a range scores only the
    rarest term's postings in [rid·range_w, (rid+1)·range_w), so a block
    exploded to several ranges scores each doc once. Ranges run in
    descending bound Σ_t idf_t · max over the term's blocks of max_tfpart
    (under tf_bounds, blocks encoded under another avgdl: the avgdl-free
    cap tfpart(max_tf, dl=0)). Without count, the first range whose
    bound is strictly below the kprime-th score ends the scan, so score
    ties stay exact; with count every range is scored."""
    import numpy as np

    term_order = [t["term"] for t in terms]
    idf = {t["term"]: t["idf"] for t in terms}
    keys = ["range_id"] * (range_w is not None) + ["term", "shard", "doc_min"]
    c = tbl.sort_by([(k, "ascending") for k in keys]).to_pydict()
    rids = c["range_id"] if range_w is not None else [0] * tbl.num_rows
    ranges: dict[int, dict[str, list]] = {}
    for row in zip(rids, c["term"], c["docs_bin"], c["tfs_bin"], c["dls_bin"],
                   c["doc_min"], c["doc_max"]):
        ranges.setdefault(row[0], {}).setdefault(row[1], []).append(row[2:])

    order = [(0.0, rid) for rid in ranges]
    if not count:
        cap = (np_bm25_tfpart(c["max_tf"], 0, avgdl, k1, b).tolist()
               if tf_bounds else c["max_tfpart"])
        bound: dict[tuple[int, str], float] = {}
        for key, v in zip(zip(rids, c["term"]), cap):
            bound[key] = max(bound.get(key, 0.0), v)
        order = sorted(((sum(idf[t] * bound[rid, t] for t in per_term), rid)
                        for rid, per_term in ranges.items()), reverse=True)

    top: list[tuple[int, float]] = []
    matches = 0
    for ub, rid in order:
        if not count and len(top) >= kprime and (not top or ub < top[-1][1]):
            break  # ranges are sorted: nothing below can beat θ either
        per_term = ranges[rid]
        if any(t not in per_term for t in term_order):
            continue  # AND semantics: a term absent from the range ⇒ no hit
        window = (None if range_w is None
                  else (rid * range_w, (rid + 1) * range_w))
        docs, scores = np_intersect_score_blocks(
            per_term, term_order, idf, avgdl, k1, b, window=window)
        matches += int(docs.size)
        best = np.lexsort((docs, -scores))[:kprime]
        top = sorted(top + list(zip(docs[best].tolist(),
                                    scores[best].tolist())),
                     key=lambda r: (-r[1], r[0]))[:kprime]
    return top, matches


BLOCKS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("shard", IntegerType(), False),
    StructField("block_id", IntegerType(), False),
    StructField("n", IntegerType(), False),
    StructField("doc_min", LongType(), False),
    StructField("doc_max", LongType(), False),
    StructField("max_tf", IntegerType(), False),
    StructField("max_tfpart", DoubleType(), False),
    StructField("docs_bin", BinaryType(), False),
    StructField("tfs_bin", BinaryType(), False),
    StructField("dls_bin", BinaryType(), False),
])


def build_blocks(postings: DataFrame, head_terms: list[str], avgdl: float,
                 cfg: EngineConfig) -> DataFrame:
    """postings(term, doc_id, tf, dl) -> compressed block rows.

    head_terms: terms with df > cfg.salt_df_threshold (collected driver-side
    from the `terms` stage — a handful of stopwords even at web scale; goes
    out as a broadcast-able isin literal).

    The input must arrive in (term, doc_id) order within each task, with
    every term's postings in one task — a scan of the postings table
    gives exactly that: every FILE holds whole term buckets, each a
    (term, doc_id)-ordered run (files are (term_bucket, term, doc_id)-
    ordered) — and shard = doc_id // salt_shard_docs is monotonic in
    doc_id within a term, so every term's rows are one contiguous
    (shard, doc_id)-ordered run. The streaming `mapInArrow` encoder consumes the scan
    directly and cuts blocks at run boundaries: ZERO exchange, zero sort
    of posting rows. The scan keeps Spark's default file packing (about
    one task per core): a task that reads several postings files back to
    back still sees whole (term, shard) runs, because term → bucket is a
    function — runs from different files never share a term, so every
    file boundary is also a run boundary. A run split across Arrow
    batches (or file splits of oversized files) yields an extra smaller
    block; the block counter carries across batches within a task, so
    (term, shard, block_id) stays unique per task. (WAND orders by
    (shard, doc_min), never block_id.)
    """
    block_size = cfg.block_size
    shard_docs = cfg.salt_shard_docs
    k1, b = cfg.bm25_k1, cfg.bm25_b

    shard = (
        F.when(F.col("term").isin(list(head_terms)),
               (F.col("doc_id") / F.lit(shard_docs)).cast("int"))
        .otherwise(F.lit(0))
    )

    def encode_stream(batches):
        yield from encode_block_batches(batches, block_size, avgdl, k1, b)

    return (postings.select("term", "doc_id", "tf", "dl")
            .withColumn("shard", shard)
            .mapInArrow(encode_stream, schema=BLOCKS_SCHEMA))


@contextmanager
def large_arrow_batches(spark):
    """Scope spark.sql.execution.arrow.maxRecordsPerBatch → 65536 around a
    blocks action: the encoder is a streaming mapInArrow whose per-batch
    overheads (Python round-trip, run-boundary carry, RecordBatch
    assembly of 11 output arrays) and batch-split partial blocks both
    shrink with fewer, larger batches; 64Ki rows of (term, i64, 2×i32)
    is a few MB per batch — far under worker memory at any scale.

    Cross-talk caveat (same class as the build-scoped AQE toggle,
    plans/build.py): the conf is session-wide, so a query racing the
    blocks write in the SAME session plans with it — it only changes
    Arrow transfer granularity. Other sessions of the SparkContext are
    unaffected."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, "65536")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def encode_block_batches(batches, block_size: int, avgdl: float,
                         k1: float, b: float):
    """The mapInArrow encoder body (module-level so tests can drive it with
    hand-built RecordBatches, incl. runs split across batch boundaries)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    names = [f.name for f in BLOCKS_SCHEMA.fields]
    # carry the block counter across Arrow batch boundaries so block_id
    # is globally sequential within each (term, shard) run — (term,
    # shard, block_id) stays unique and ordered even when a run spans
    # batches (batches arrive in partition order, so this is sound)
    carry_term, carry_shard, carry_bi = None, None, 0
    for rb in batches:
        n_rows = rb.num_rows
        if n_rows == 0:
            continue
        idx = {n: rb.schema.get_field_index(n) for n in
               ("term", "shard", "doc_id", "tf", "dl")}
        t_col = rb.column(idx["term"])
        # asarray, not astype: doc_id arrives int64 already (tf/dl are
        # int32 and genuinely widen) — astype(copy=True default) would
        # re-copy ~128 MB per 16M-posting build for nothing
        sh = np.asarray(rb.column(idx["shard"])
                        .to_numpy(zero_copy_only=False), dtype=np.int64)
        doc = np.asarray(rb.column(idx["doc_id"])
                         .to_numpy(zero_copy_only=False), dtype=np.int64)
        tf = np.asarray(rb.column(idx["tf"])
                        .to_numpy(zero_copy_only=False), dtype=np.int64)
        dl = np.asarray(rb.column(idx["dl"])
                        .to_numpy(zero_copy_only=False), dtype=np.int64)

        # run boundaries: (term, shard) change — string compare stays
        # in Arrow (pc.not_equal over shifted slices), never per-row
        run_start = np.empty(n_rows, dtype=bool)
        run_start[0] = True
        if n_rows > 1:
            run_start[1:] = (pc.not_equal(t_col.slice(1),
                                          t_col.slice(0, n_rows - 1))
                             .to_numpy(zero_copy_only=False)
                             | (sh[1:] != sh[:-1]))
        run_starts_idx = np.flatnonzero(run_start)
        run_id = np.cumsum(run_start) - 1
        off_in_run = (np.arange(n_rows, dtype=np.int64)
                      - run_starts_idx[run_id])

        # blocks: fixed-size cuts within each run
        bstart = (off_in_run % block_size) == 0
        bs_idx = np.flatnonzero(bstart)
        be_idx = np.append(bs_idx[1:], n_rows)
        bid = off_in_run[bs_idx] // block_size
        if (carry_term == t_col[0].as_py()
                and carry_shard == int(sh[0])):
            bid[run_id[bs_idx] == 0] += carry_bi
        carry_term = t_col[n_rows - 1].as_py()
        carry_shard = int(sh[n_rows - 1])
        carry_bi = int(bid[-1]) + 1

        # delta-gap doc ids, reset to the raw id at each block start
        # (matches delta_encode's per-block [first, gap, ...] layout)
        deltas = doc.copy()
        if n_rows > 1:
            deltas[1:] = doc[1:] - doc[:-1]
        deltas[bs_idx] = doc[bs_idx]
        if not (deltas[~bstart] > 0).all():
            raise ValueError("doc_ids must be strictly ascending")

        docs_buf, docs_ends = np_varint_encode_concat(deltas)
        tfs_buf, tfs_ends = np_varint_encode_concat(tf)
        dls_buf, dls_ends = np_varint_encode_concat(dl)

        tfpart = np_bm25_tfpart(tf, dl, avgdl, k1, b)

        def block_binary(buf, ends):
            # consecutive blocks TILE the concatenated varint stream
            # (be_idx[i] == bs_idx[i+1], last ends at n_rows), so the
            # per-block binary column is a zero-copy Arrow view over the
            # SAME buffer with one int32 offsets array — no per-block
            # Python slice loop, no re-copy of the encoded bytes
            # (measured ~30x faster than the slice loop it replaced,
            # ≈12% of encode-kernel time at block_size 128;
            # scripts/profile_blocks.py)
            if int(ends[-1]) >= 1 << 31:
                # unreachable under the 64Ki-row Arrow batches the build
                # configures (≤ ~640 KB of varints), but the kernel is
                # driven directly by tests/harnesses with arbitrary
                # batches — keep the int32-offset overflow loud, like the
                # pa.array slice path it replaced did
                raise ValueError(
                    "varint stream exceeds int32 Arrow binary offsets; "
                    "reduce spark.sql.execution.arrow.maxRecordsPerBatch")
            offs = np.empty(len(bs_idx) + 1, dtype=np.int32)
            offs[0] = 0
            offs[1:] = ends[be_idx - 1]
            return pa.Array.from_buffers(
                pa.binary(), len(bs_idx),
                [None, pa.py_buffer(offs), pa.py_buffer(buf)])

        yield pa.RecordBatch.from_arrays(
            [t_col.take(pa.array(bs_idx)),
             pa.array(sh[bs_idx].astype(np.int32), pa.int32()),
             pa.array(bid.astype(np.int32), pa.int32()),
             pa.array((be_idx - bs_idx).astype(np.int32), pa.int32()),
             pa.array(doc[bs_idx], pa.int64()),
             pa.array(doc[be_idx - 1], pa.int64()),
             pa.array(np.maximum.reduceat(tf, bs_idx).astype(np.int32),
                      pa.int32()),
             pa.array(np.maximum.reduceat(tfpart, bs_idx), pa.float64()),
             block_binary(docs_buf, docs_ends),
             block_binary(tfs_buf, tfs_ends),
             block_binary(dls_buf, dls_ends)],
            names)
