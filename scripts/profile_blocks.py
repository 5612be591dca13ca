"""Profile the blocks encode path (operators/postings.py::
encode_block_batches): where does the time go, and does the zero-copy
binary-column assembly (Array.from_buffers over the tiled varint stream)
beat the per-block Python slice loop it replaced?

Three measurements over the SAME synthetic sorted postings table:
  1. kernel-only: pyarrow reads the parquet into 64Ki-row batches and the
     encoder drains them in-process — no Spark, no IPC. Run twice: with
     the shipped from_buffers assembly and with a slice-loop control that
     reimplements the old binary assembly (labelled; measurement control
     only).
  2. spark path at local[1] and local[4]: scan -> mapInArrow(encode) ->
     count, the presorted exchange-free plan. The delta vs kernel-only is
     the JVM<->Python Arrow IPC hop, which is structural to mapInArrow.

Usage: python scripts/profile_blocks.py [n_postings] (default 4M)
Prints one JSON line.
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from searchengine_spark.operators.postings import (  # noqa: E402
    encode_block_batches, np_varint_encode_concat)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
BLOCK = 128
AVGDL, K1, B = 120.0, 1.2, 0.75


def gen_postings(path: str, n_files: int = 4) -> None:
    """Zipf-ish sorted postings: 2000 terms, df ~ 1/rank, doc_ids
    ascending per term — the shape the presorted scan feeds the encoder.
    Written as n_files bucket files of disjoint term sets, each
    internally (term, doc_id)-sorted, mirroring the file-sorted postings
    contract (one scan task per file = the exchange-free blocks plan)."""
    rng = np.random.default_rng(42)
    ranks = np.arange(1, 2001)
    w = 1.0 / ranks
    df = np.maximum(1, (w / w.sum() * N).astype(np.int64))
    os.makedirs(path, exist_ok=True)
    for f_id in range(n_files):
        sel = [i for i in range(len(ranks)) if i % n_files == f_id]
        terms = np.repeat([f"term{ranks[i]:05d}" for i in sel], df[sel])
        doc = np.concatenate([
            np.sort(rng.choice(5 * df[i], size=df[i], replace=False))
            for i in sel])
        tf = rng.integers(1, 30, size=len(terms), dtype=np.int32)
        dl = rng.integers(20, 400, size=len(terms), dtype=np.int32)
        tbl = pa.table({"term": terms, "doc_id": doc.astype(np.int64),
                        "tf": tf, "dl": dl,
                        "shard": np.zeros(len(terms), dtype=np.int64)})
        pq.write_table(tbl, os.path.join(path, f"part-{f_id}.parquet"))


def drain_kernel(path: str) -> float:
    t0 = time.monotonic()
    rows = 0
    for f in sorted(os.listdir(path)):
        pf = pq.ParquetFile(os.path.join(path, f))
        for rb in pf.iter_batches(batch_size=65536):
            for out in encode_block_batches([rb], BLOCK, AVGDL, K1, B):
                rows += out.num_rows
    return time.monotonic() - t0


def drain_kernel_slice_control(path: str) -> tuple[float, float]:
    """(t_slice_loop, t_from_buffers) — times ONLY the binary-column
    assembly step both ways over the same (buf, ends) streams. The delta
    computation here is a simplified stand-in (clamped gaps, not the
    kernel's exact per-block reset), which changes varint CONTENT but
    not the byte-length distribution the assembly cost depends on, so
    the slice-vs-from_buffers comparison is representative."""
    t_slice = t_buf = 0.0
    f0 = sorted(os.listdir(path))[0]
    pf = pq.ParquetFile(os.path.join(path, f0))
    for rb in pf.iter_batches(batch_size=65536):
        n_rows = rb.num_rows
        doc = rb.column(1).to_numpy()
        bs_idx = np.arange(0, n_rows, BLOCK)
        be_idx = np.append(bs_idx[1:], n_rows)
        deltas = doc.copy()
        deltas[1:] = np.maximum(doc[1:] - doc[:-1], 1)
        deltas[bs_idx] = np.abs(doc[bs_idx]) + 1
        buf, ends = np_varint_encode_concat(deltas)
        t0 = time.monotonic()
        bounds = np.concatenate(([0], ends)).tolist()
        _ = pa.array([buf[bounds[s]:bounds[e]]
                      for s, e in zip(bs_idx.tolist(), be_idx.tolist())],
                     pa.binary())
        t_slice += time.monotonic() - t0
        t0 = time.monotonic()
        offs = np.empty(len(bs_idx) + 1, dtype=np.int32)
        offs[0] = 0
        offs[1:] = ends[be_idx - 1]
        _ = pa.Array.from_buffers(pa.binary(), len(bs_idx),
                                  [None, pa.py_buffer(offs),
                                   pa.py_buffer(buf)])
        t_buf += time.monotonic() - t0
    return t_slice, t_buf


def spark_path(path: str, cpus: int) -> float:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName(f"blocks-prof-{cpus}")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        # the engine's plan: default file packing of the sorted files
        # (about one scan task per core; files never share a term)
        src = spark.read.parquet(path)

        def enc(batches):
            yield from encode_block_batches(batches, BLOCK, AVGDL, K1, B)

        schema = ("term string, shard int, block_id int, n int, "
                  "doc_min long, doc_max long, tf_max int, score_max double, "
                  "docs_bin binary, tfs_bin binary, dls_bin binary")
        df = src.mapInArrow(enc, schema)
        df.count()  # warm (codegen, scan footers, python workers)
        t0 = time.monotonic()
        df.count()
        return time.monotonic() - t0
    finally:
        spark.stop()


def main():
    with tempfile.TemporaryDirectory(prefix="blocksprof_") as tmp:
        path = os.path.join(tmp, "postings.parquet")
        gen_postings(path)
        kern = min(drain_kernel(path) for _ in range(3))
        t_slice, t_buf = drain_kernel_slice_control(path)
        s1 = spark_path(path, 1)
        s4 = spark_path(path, 4)
        print(json.dumps({
            "n_postings": N, "block_size": BLOCK,
            "kernel_only_sec": round(kern, 3),
            "binary_assembly_slice_loop_sec": round(t_slice, 3),
            "binary_assembly_from_buffers_sec": round(t_buf, 3),
            "spark_local1_sec": round(s1, 3),
            "spark_local4_sec": round(s4, 3),
            "ipc_overhead_local1_sec": round(s1 - kern, 3),
            "scaling_1_to_4": round(s1 / s4 / 4, 3),
        }))


if __name__ == "__main__":
    main()
