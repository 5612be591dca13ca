"""SQL-expressible full-text operators over a generic whitespace corpus.

These mirror the reference's query-side operators (SURVEY.md §2: A1/A2/A3,
O1/O2, J3, A6, O3/O4) for ANY (doc_id, text) table — used both by the driver
correctness gate (DuckDB oracle side-by-side) and as the relational
foundation the Russian engine specializes. BM25 parameters follow the
north_rule (k1=1.2, b=0.75); idf = ln(1 + (N-df+0.5)/(df+0.5)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .postings import bm25_idf, bm25_tfpart_col
from .textstats import doc_frequencies, term_frequencies, tokens

BM25_K1 = 1.2
BM25_B = 0.75


def corpus_stats(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """One row: n_docs, n_terms, total_tokens, avgdl (A3)."""
    tf = term_frequencies(docs, text_col, id_col)
    n_docs = docs.select(F.count("*").alias("n_docs"))
    agg = tf.agg(
        F.count_distinct("term").cast("long").alias("n_terms"),
        F.sum("tf").cast("long").alias("total_tokens"),
    )
    return (n_docs.crossJoin(agg)
            .withColumn("avgdl", F.round(F.col("total_tokens") / F.col("n_docs"), 6))
            .select("n_docs", "n_terms", "total_tokens", "avgdl"))


def stopword_terms(docs: DataFrame, ratio: float, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Terms with df/N > ratio (O2 generalized; reference ratio 0.95).
    N is folded into the same job via a broadcast single-row aggregate —
    no separate driver-side count() action."""
    tf = term_frequencies(docs, text_col, id_col)
    dfreq = doc_frequencies(tf)
    nrow = docs.agg(F.count("*").cast("double").alias("_n"))
    return (dfreq.crossJoin(F.broadcast(nrow))
                 .filter(F.col("df") / F.col("_n") > F.lit(ratio))
                 .select("term", "df").orderBy("term"))


def rarest_first(docs: DataFrame, query_terms: list[str],
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Query terms ordered by ascending df (O1) with their df."""
    tf = term_frequencies(docs, text_col, id_col)
    dfreq = doc_frequencies(tf).filter(F.col("term").isin(query_terms))
    return (dfreq.select("term", "df")
                 .withColumn("ord", F.row_number().over(
                     Window.orderBy(F.col("df").asc(), F.col("term").asc())))
                 .select("ord", "term", "df"))


def and_intersection(docs: DataFrame, query_terms: list[str],
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """doc_ids containing ALL query terms (J3) — one hash aggregate."""
    tf = term_frequencies(docs, text_col, id_col)
    return (tf.filter(F.col("term").isin(query_terms))
              .groupBy("doc_id")
              .agg(F.count_distinct("term").alias("nt"))
              .filter(F.col("nt") == F.lit(len(query_terms)))
              .select("doc_id"))


def relevance_tf_sum(docs: DataFrame, query_terms: list[str], k: int = 20,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Reference relevance: Σtf over query terms for AND docs, top-k
    (A6+O3; deterministic (rel desc, doc_id asc) tiebreak)."""
    tf = term_frequencies(docs, text_col, id_col)
    q = tf.filter(F.col("term").isin(query_terms))
    agg = (q.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("nt"),
                 F.sum("tf").cast("long").alias("relevance"))
            .filter(F.col("nt") == F.lit(len(query_terms))))
    return (agg.select("doc_id", "relevance")
               .orderBy(F.col("relevance").desc(), F.col("doc_id").asc())
               .limit(k))


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              offset: int = 0, k1: float = BM25_K1, b: float = BM25_B,
              mode: str = "all", text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """BM25 top-k over a whitespace corpus (the flagship relational form
    of the engine's query plan; scores rounded to 6dp). mode="all" is the
    reference's conjunctive semantics (every term must match); mode="any"
    is the disjunctive ranked union the reference lacks — a doc matches
    if it contains ANY query term, absent terms contribute exactly 0 to
    the score (tf=0 ⇒ the BM25 term is 0), and the same one-groupBy plan
    serves both (only the post-aggregation filter differs).

    Two token scans total (vs the naive tf/dl/df/score lineage re-derived
    per branch):
      scalar pass — per-doc (dl, has_term_i) narrow agg -> one global row
        (avgdl, df_i per query term), collected (|Q|+1 scalars);
      ranking pass — per-doc (dl, tf_i per query term) in ONE groupBy over
        the token stream (agg state = |Q|+1 counters per doc, far narrower
        than a (doc_id, term)-wide shuffle), AND filter, BM25 as a pure
        column expression, orderBy+limit => TakeOrderedAndProject.
    N (all docs, incl. token-less) is a column-pruned count of `docs`."""
    # dedupe while preserving order: a duplicated query term must count
    # once (the old count_distinct==|Q| AND filter returned no rows for
    # dup lists; the per-term column form would double-count its score) —
    # and the aggregate width stays bounded by the distinct term count
    query_terms = list(dict.fromkeys(query_terms))
    if mode not in ("all", "any"):
        raise ValueError(f"mode must be 'all' or 'any', got {mode!r}")
    if not query_terms:
        return docs.sparkSession.createDataFrame(
            [], "doc_id long, score double")

    tok = tokens(docs, text_col, id_col)
    n = docs.count()

    scal = (tok.groupBy("doc_id")
               .agg(F.count("*").alias("dl"),
                    *[F.max((F.col("term") == F.lit(t)).cast("int"))
                      .alias(f"h{i}") for i, t in enumerate(query_terms)])
               .agg(F.avg("dl").alias("avgdl"),
                    *[F.sum(f"h{i}").cast("double").alias(f"df{i}")
                      for i in range(len(query_terms))])
               .collect()[0])
    avgdl = float(scal["avgdl"] or 1.0)
    idf = [bm25_idf(n, float(scal[f"df{i}"] or 0.0))
           for i in range(len(query_terms))]

    per_doc = (tok.groupBy("doc_id")
                  .agg(F.count("*").cast("double").alias("dl"),
                       *[F.sum((F.col("term") == F.lit(t)).cast("long"))
                         .cast("double").alias(f"tf{i}")
                         for i, t in enumerate(query_terms)]))
    matched = per_doc
    if mode == "all":
        for i in range(len(query_terms)):
            matched = matched.filter(F.col(f"tf{i}") > 0)
    else:  # any: ranked union — at least one term present
        present = None
        for i in range(len(query_terms)):
            c = F.col(f"tf{i}") > 0
            present = c if present is None else present | c
        matched = matched.filter(present)
    score = None
    for i in range(len(query_terms)):
        part = F.lit(idf[i]) * bm25_tfpart_col(F.col(f"tf{i}"), F.col("dl"),
                                               avgdl, k1, b)
        score = part if score is None else score + part
    return (matched.select("doc_id", score.alias("score"))
                   .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                   .offset(offset).limit(k)
                   .select("doc_id", F.round("score", 6).alias("score")))
