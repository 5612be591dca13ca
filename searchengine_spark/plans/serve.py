"""Driver-side serving path — answer queries straight from the columnar
index, no Spark job.

The cluster (plans/build.py) writes a layout that is deliberately
serveable by ANY single process: term-bucketed files of compressed
posting blocks with block-max metadata, a term-bucketed dictionary, and a
doc store whose files carry doc_id min/max stats. Every read starts from
the stage manifest (TableIO.pinned_files): the committed snapshot's file
list, pruned to the files whose bucket set holds the query's buckets. A
query touches:

    terms files holding b(q)     (dictionary rows for the query's terms;
                                  lookup_terms, every strategy)
    blocks files holding b(q)    (posting blocks for the query terms,
                                  read once and ranked as one Arrow
                                  table for top-k and count; driver_topk)
    docs row groups selected by doc_id stats   (k rows of metadata;
                                  fetch_docs, every strategy)

all via pyarrow dataset filters — so interactive latency is file-read
bound (milliseconds), while the SAME files remain the source for the
distributed exact/WAND scoring. The driver path and the WAND tasks rank
blocks with one function, operators/postings.py::rank_blocks. Debris of
an interrupted commit is never read: it is in no manifest. This mirrors
production engines: Spark builds and maintains the index; a thin serving
tier reads it.

Scale caveat (documented, by design): the driver path loads the query
terms' dictionary rows and posting blocks into one process, so it serves
comfortably up to posting lists of ~10^7 entries per term; beyond that the
distributed WAND path (plans/wand.py) is the right tool. `search()` picks
automatically via cfg/df thresholds when strategy="auto".
"""

from __future__ import annotations

from ..config import EngineConfig
from ..operators.postings import bm25_idf, rank_blocks
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
    """The query terms [{term, df, idf}] of `lemmas`: their dictionary
    rows from a bucket-pruned pyarrow read of `terms` (no Spark job),
    ranked by rank_query_terms. The one dictionary lookup of every search
    strategy (QueryEngine.analyze)."""
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
                offset: int = 0) -> tuple[list[tuple[int, float]], int]:
    """(page, count): the (doc_id, score) rows ranked offset+1..offset+k
    and the number of docs matching every term, from one bucket-pruned
    pyarrow read of the query terms' blocks ranked in-process by
    operators/postings.py::rank_blocks as one range with count=True —
    the block scorer of the WAND tasks, so both are score-identical by
    construction. terms: the analyze() / lookup_terms output
    [{term, df, idf}], rarest-first."""
    import pyarrow.dataset as ds

    avgdl = float(io.read_meta("stats")["avgdl"]) or 1.0
    term_order = [t["term"] for t in terms]
    buckets = sorted({term_bucket(t, cfg.term_buckets) for t in term_order})
    tbl = _dataset(io, "blocks", buckets).to_table(
        filter=(ds.field("term_bucket").isin(buckets)
                & ds.field("term").isin(term_order)),
        columns=["term", "shard", "doc_min", "doc_max", "docs_bin",
                 "tfs_bin", "dls_bin"])
    top, count = rank_blocks(tbl, terms, avgdl, cfg.bm25_k1, cfg.bm25_b,
                             kprime=offset + k, count=True)
    return top[offset:], count


def fetch_docs(io, doc_ids: list[int],
               columns=("doc_id", "url", "site", "title", "text")) -> dict[int, dict]:
    """doc_id -> row of `columns` for k docs, via row-group doc_id
    statistics: the one doc fetch of every search strategy."""
    import pyarrow.dataset as ds

    if not doc_ids:
        return {}
    d = _dataset(io, "docs")
    tbl = d.to_table(filter=ds.field("doc_id").isin(doc_ids),
                     columns=list(columns))
    return {row["doc_id"]: row for row in tbl.to_pylist()}
