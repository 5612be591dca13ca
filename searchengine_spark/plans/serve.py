"""Driver-side serving path — answer queries straight from the columnar
index, no Spark job.

The cluster (plans/build.py) writes a layout that is deliberately
serveable by ANY single process: term-bucketed files of compressed
posting blocks with block-max metadata, a term-bucketed dictionary, and a
doc store whose files carry doc_id min/max stats. Every read starts from
the stage manifest (TableIO.pinned_files): the committed snapshot's file
list, pruned to the files whose bucket set holds the query's buckets. A
query touches:

    terms files holding b(q)     (dictionary rows for the query's terms)
    blocks files holding b(q)    (posting blocks for the query terms)
    docs row groups selected by doc_id stats   (k rows of metadata)

all via pyarrow dataset filters — so interactive latency is file-read
bound (milliseconds), while the SAME files remain the source for the
distributed exact/WAND paths. Debris of an interrupted commit is never
read: it is in no manifest. This mirrors production engines: Spark
builds and maintains the index; a thin serving tier reads it.

Scale caveat (documented, by design): the driver path loads the query
terms' dictionary rows and posting blocks into one process, so it serves
comfortably up to posting lists of ~10^7 entries per term; beyond that the
distributed WAND path (plans/wand.py) is the right tool. `search()` picks
automatically via cfg/df thresholds when strategy="auto".
"""

from __future__ import annotations

import heapq

from ..config import EngineConfig
from ..operators.postings import (bm25_idf, np_intersect_score_blocks,
                                  np_varint_decode)
from .build import term_bucket


def _dataset(io, table: str, buckets=None):
    """pyarrow dataset over the table's committed snapshot: the manifest's
    files holding any of `buckets` (every file when None), read with the
    manifest's schema — the files a Spark read pins, never a directory
    listing."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    files, schema = io.pinned_files(table, buckets)
    return ds.dataset(files, format="parquet",
                      schema=to_arrow_schema(schema) if schema else None)


def rank_query_terms(rows, n_docs: int, cfg: EngineConfig) -> list[dict]:
    """(term, df) dictionary rows of a query's lemmas -> the query terms
    [{term, df, idf}]: stopword prune (df/N above cfg.stopword_df_ratio,
    reference SearchServiceImpl.java:161), BM25 idf, rarest-first with
    ties by term asc (getLemmaList, SearchServiceImpl.java:153-168)."""
    out = [{"term": term, "df": int(df), "idf": bm25_idf(n_docs, df)}
           for term, df in rows
           if not (n_docs and df / n_docs > cfg.stopword_df_ratio)]
    out.sort(key=lambda t: (t["df"], t["term"]))
    return out


def lookup_terms(io, cfg: EngineConfig, lemmas: list[str],
                 n_docs: int) -> list[dict]:
    """QueryEngine.analyze's dictionary lookup via a pruned pyarrow read
    (no Spark job), ranked by the same rank_query_terms."""
    import pyarrow.dataset as ds

    buckets = sorted({term_bucket(t, cfg.term_buckets) for t in lemmas})
    d = _dataset(io, "terms", buckets)
    tbl = d.to_table(
        filter=(ds.field("term_bucket").isin(buckets)
                & ds.field("term").isin(lemmas)),
        columns=["term", "df"])
    return rank_query_terms(
        zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()), n_docs, cfg)


def driver_topk(io, cfg: EngineConfig, terms: list[dict], k: int,
                offset: int = 0) -> list[tuple[int, float]]:
    """Top-(offset+k) (doc_id, score) — rarest-first AND intersection with
    doc-range block skipping over the compressed blocks, one process.
    Decode + scoring numpy-vectorized via the shared kernel
    (operators/postings.py::np_intersect_score_blocks) — score-identical
    to the WAND tasks by construction."""
    import pyarrow.dataset as ds

    stats = io.read_meta("stats")
    avgdl = float(stats["avgdl"]) or 1.0
    k1, b = cfg.bm25_k1, cfg.bm25_b
    term_order = [t["term"] for t in terms]
    idf = {t["term"]: t["idf"] for t in terms}

    buckets = sorted({term_bucket(t, cfg.term_buckets) for t in term_order})
    d = _dataset(io, "blocks", buckets)
    tbl = d.to_table(
        filter=(ds.field("term_bucket").isin(buckets)
                & ds.field("term").isin(term_order)),
        columns=["term", "doc_min", "doc_max", "docs_bin", "tfs_bin",
                 "dls_bin"])
    per_term: dict[str, list[dict]] = {t: [] for t in term_order}
    for i in range(tbl.num_rows):
        row = {c: tbl[c][i].as_py() for c in tbl.column_names}
        if row["term"] in per_term:
            per_term[row["term"]].append(row)

    per_term_blocks = {
        t: [(r["docs_bin"], r["tfs_bin"], r["dls_bin"],
             r["doc_min"], r["doc_max"]) for r in rows]
        for t, rows in per_term.items()
    }
    cand_docs, cand_scores = np_intersect_score_blocks(
        per_term_blocks, term_order, idf, avgdl, k1, b)
    if cand_docs.size == 0:
        return []
    kprime = offset + k
    top = heapq.nsmallest(
        kprime, zip(cand_docs.tolist(), cand_scores.tolist()),
        key=lambda kv: (-kv[1], kv[0]))
    return [(d_, s) for d_, s in top[offset:]]


def fetch_docs(io, doc_ids: list[int],
               columns=("doc_id", "url", "site", "title", "text")) -> dict[int, dict]:
    """k rows of doc metadata via row-group doc_id statistics."""
    import pyarrow.dataset as ds

    if not doc_ids:
        return {}
    d = _dataset(io, "docs")
    tbl = d.to_table(filter=ds.field("doc_id").isin(doc_ids),
                     columns=list(columns))
    out = {}
    for i in range(tbl.num_rows):
        row = {c: tbl[c][i].as_py() for c in tbl.column_names}
        out[row["doc_id"]] = row
    return out


def driver_count_candidates(io, cfg: EngineConfig, terms: list[dict]) -> int:
    """Exact AND-match count, driver-side (for response parity)."""
    import pyarrow.dataset as ds

    term_order = [t["term"] for t in terms]
    buckets = sorted({term_bucket(t, cfg.term_buckets) for t in term_order})
    d = _dataset(io, "blocks", buckets)
    tbl = d.to_table(
        filter=(ds.field("term_bucket").isin(buckets)
                & ds.field("term").isin(term_order)),
        columns=["term", "docs_bin"])  # count needs doc ids only
    import numpy as np

    by_term: dict[str, list] = {t: [] for t in term_order}
    for i in range(tbl.num_rows):
        t = tbl["term"][i].as_py()
        if t in by_term:
            by_term[t].append(np.cumsum(np_varint_decode(
                bytes(tbl["docs_bin"][i].as_py()))))
    cand = None
    for t in term_order:
        docs_t = (np.concatenate(by_term[t]) if by_term[t]
                  else np.empty(0, dtype=np.int64))
        cand = docs_t if cand is None else np.intersect1d(
            cand, docs_t, assume_unique=True)
        if cand.size == 0:
            return 0
    return int(cand.size) if cand is not None else 0
