#!/usr/bin/env python
"""Regenerate docs/PLANS.md — `.explain("formatted")` evidence for the
engine's headline physical plans: manifest file pruning + filter pushdown
on the postings scan, broadcast joins for query terms and the lexicon, the
narrow per-doc aggregation of the relational BM25 path, and
TakeOrderedAndProject for top-k. Run: `python scripts/gen_plans.py`."""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# tokens that change from run to run without the plan changing: the
# scratch directory, parquet part-file names (with the generation prefix
# a table commit gives them, TableIO.replace_buckets) and the per-session
# expression / exchange-plan / RDD ids
_TMP_DIR = re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]]+")
_PART_FILE = re.compile(
    r"(?:gen-[0-9a-f]{12}-)?part-\d+-[0-9a-f-]{36}[\w.-]*?\.parquet")
_IDS = re.compile(r"(#|plan_id=|RDD\[)(\d+)")


def normalise(text: str) -> str:
    """Replace the volatile tokens of an explain string: the scratch dir
    becomes <tmp>, part files part-<n>.parquet, and every id its rank of
    first appearance in this plan, so an unchanged plan prints the same
    text in every run."""
    text = _PART_FILE.sub("part-<n>.parquet", _TMP_DIR.sub("<tmp>", text))
    ids: dict[tuple[str, str], int] = {}

    def renumber(m):
        key = (m.group(1), m.group(2))
        if key not in ids:
            ids[key] = sum(k[0] == key[0] for k in ids) + 1
        return f"{m.group(1)}{ids[key]}"

    return _IDS.sub(renumber, text)


def plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return normalise(df._jdf.queryExecution().explainString(mode))


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    import __spark_entry__ as e
    from searchengine_spark.functions.udfs import tokens_from_docs_sql
    from searchengine_spark.operators.postings import build_blocks
    from searchengine_spark.operators.relational_search import bm25_topk
    from searchengine_spark.operators.similarity import cosine_neardup_pairs
    from searchengine_spark.plans.api import SearchEngine
    from searchengine_spark.plans.build import IndexBuilder
    from searchengine_spark.sources.corpus import gen_pages_spark

    work = tempfile.mkdtemp()
    eng = SearchEngine(spark, work)
    eng.build_index(gen_pages_spark(spark, 400))
    qe = eng.query_engine
    terms = qe.analyze("леопард обитает")
    docs = spark.read.parquet(os.environ.get(
        "SPARK_GRAFT_DOCS",
        "/root/testdata/sf0.001/documents.parquet"))

    sections = [
        ("Exact BM25 candidates — file-pruned postings scan (only the "
         "files whose manifest bucket set holds the query terms' "
         "term_buckets; PushedFilters on term), "
         "broadcast query terms, single hash-agg for AND+Σscore",
         plan(spark, qe.candidates_df(terms))),
        ("Relational BM25 top-k — one token scan, narrow per-doc "
         "aggregation (dl + per-term tf counters), TakeOrderedAndProject",
         plan(spark, bm25_topk(docs, e.Q_BM25, k=10))),
        ("All-Catalyst tokenize+lemmatize — broadcast lexicon join, one "
         "doc_id exchange serving both the tf aggregation and dl window",
         plan(spark, tokens_from_docs_sql(docs))),
        ("site_stats (fused) — join-free column-pruned (site_id, term) "
         "aggregation over sited postings; the site STRING never rides a "
         "shuffle (names join back post-aggregation on the tiny frame)",
         plan(spark, IndexBuilder(spark, eng.io, eng.cfg)._site_stats_frame(
             eng.io.read("docs"), eng.io.read("postings")))),
        ("Blocks stage — the encoder consumes the file-sorted, "
         "bucket-clustered postings scan directly: scan -> "
         "mapInArrow, ZERO Exchange; posting rows are never shuffled or "
         "re-sorted (every postings writer keeps files (term_bucket, "
         "term, doc_id)-ordered)",
         plan(spark, build_blocks(
             eng.io.read("postings"),
             eng.io.read_manifest("blocks")["extra"]["head_terms"],
             eng.io.read_meta("stats")["avgdl"] or 1.0,
             eng.cfg))),
        ("IVF-PQ ADC probe — partition-pruned scan of the probed "
         "centroid lists (PartitionFilters on centroid), score = "
         "Catalyst-only lookup-table adds over the tinyint codes "
         "(element_at chains on literal arrays, no Python, no vector "
         "arithmetic per row), TakeOrderedAndProject for the candidate "
         "top-R",
         plan(spark, __import__("searchengine_spark.operators.similarity",
                                fromlist=["IvfPqIndex"])
              .IvfPqIndex(spark, os.path.join(work, "pqidx"), dim=64, m=16)
              .build(spark.read.parquet(os.environ.get(
                  "SPARK_GRAFT_EMB",
                  "/root/testdata/sf0.001/embeddings.parquet")),
                  train_iter=2)
              .ann_topk(e._query_vec(spark, "/root/testdata/sf0.001"),
                        k=5, n_probe=2))),
        ("Benchmark decontamination — bench shingles broadcast "
         "(BroadcastHashJoin BuildRight), corpus side streams scan → "
         "task-local array_distinct shingle Generate → join with NO "
         "corpus-sized exchange; only matching (doc, bench) rows reach "
         "the counting aggregation",
         plan(spark, __import__("searchengine_spark.operators.dedup",
                                fromlist=["contamination_pairs"])
              .contamination_pairs(
                  spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                  .filter("doc_id % 37 <> 0"),
                  spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                  .filter("doc_id % 37 = 0"),
                  n=3, min_overlap=3))),
        ("MinHashIndex batch probe — batch signatures joined against the "
         "band-partitioned signature scan on (band, sig); the corpus "
         "text is scanned ONLY for matched candidates (broadcast "
         "semi-join on corpus_doc before the re-shingle Generate), so "
         "per-batch cost is independent of corpus size",
         plan(spark, __import__("searchengine_spark.operators.dedup",
                                fromlist=["MinHashIndex"])
              .MinHashIndex(spark, os.path.join(work, "mhidx"))
              .build(docs.filter("doc_id % 37 <> 0"))
              .probe_pairs(docs.filter("doc_id % 37 = 0"),
                           docs.filter("doc_id % 37 <> 0")))),
        ("Event sessionization — ONE exchange on the session key, then "
         "sort-based session merge + aggregation within partitions "
         "(the same plan a streaming run executes incrementally with "
         "watermark state)",
         plan(spark, __import__("searchengine_spark.streaming.events",
                                fromlist=["session_windows"])
              .session_windows(spark.read.parquet(
                  "/root/testdata/sf0.001/events.parquet")))),
        ("Multi-plane-set LSH near-dup — one self-join keyed on "
         "(set_id, bucket) over exploded narrow key rows, distinct "
         "candidates, vectors joined back only for the exact-cosine "
         "verify",
         plan(spark, cosine_neardup_pairs(
             spark.read.parquet(os.environ.get(
                 "SPARK_GRAFT_EMB",
                 "/root/testdata/sf0.001/embeddings.parquet")),
             dim=64, n_planes=8, threshold=0.35, n_plane_sets=3))),
        ("Curation funnel — quality/lang/content gates as one row-local "
         "codegen projection, then EXACTLY ONE exchange (the md5 "
         "keep-first groupBy; only the 32-char signature + two longs "
         "shuffle, never the text), split assignment recomputed "
         "row-locally from the surviving doc_id",
         plan(spark, __import__("searchengine_spark.operators.curate",
                                fromlist=["curate_corpus"])
              .curate_corpus(docs, min_tokens=30))),
        ("Disjunctive BM25 (mode=\"any\") — same one-groupBy narrow "
         "per-doc aggregation as the conjunctive flagship, OR filter "
         "post-aggregation, TakeOrderedAndProject top-k",
         plan(spark, bm25_topk(docs, e.Q_AND, k=10, mode="any"))),
        ("Per-stratum quality percentile — row-local token count, one "
         "exchange on the stratum key, in-partition sort + running "
         "percent_rank window; the text column is pruned before the "
         "exchange (only (doc_id, stratum, n_tokens) shuffles)",
         plan(spark, __import__("searchengine_spark.operators.curate",
                                fromlist=["quality_percentile_filter"])
              .quality_percentile_filter(docs, top_frac=0.2,
                                         method="window"))),
        ("Per-stratum quality percentile, HISTOGRAM route (the 100-TB "
         "path) — the only full-row exchange aggregates to the "
         "(stratum, n_tokens) histogram; the per-stratum cut derives "
         "from histogram-sized windows; membership returns to the doc "
         "rows via BROADCAST joins, and only the single boundary "
         "value's rows per stratum pass through the tie-split "
         "row_number window — no stratum-sized sort anywhere",
         plan(spark, __import__("searchengine_spark.operators.curate",
                                fromlist=["quality_percentile_filter"])
              .quality_percentile_filter(docs, top_frac=0.2,
                                         method="histogram"))),
        ("Sequence packing (pack_greedy) — text pruned to (doc_id, "
         "n_tokens) before the ONE exchange on the shard key; the "
         "exclusive-window cumulative sum and the pack arithmetic are "
         "in-partition, so the token stream is never materialized",
         plan(spark, __import__("searchengine_spark.operators.sampling",
                                fromlist=["pack_greedy"])
              .pack_greedy(docs, max_tokens=512))),
        ("Bigram LM scoring (bigram_logprob_scores) — per-doc lag "
         "window (partition = doc_id, never skewed), model = two "
         "(prev, term)/(prev) aggregations, scoring join AQE-routed, "
         "per-doc reduction is an integer hash aggregate",
         plan(spark, __import__("searchengine_spark.operators.textstats",
                                fromlist=["bigram_logprob_scores"])
              .bigram_logprob_scores(docs))),
    ]
    out = ["# Physical plans (generated)",
           "",
           "`python scripts/gen_plans.py` regenerates this file from live",
           "`.explain(\"formatted\")` output (local[4], fixture index).",
           ""]
    for title, text in sections:
        out += [f"## {title}", "", "```", text.rstrip()[:4500], "```", ""]
    dest = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "PLANS.md")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
