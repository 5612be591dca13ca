"""Block-max WAND top-k over the compressed posting blocks.

Serving-scale counterpart of plans/query.py's exact DataFrame path (both
must return rank-identical rows — tests/test_wand.py enforces it). The
reference's analog is the term-at-a-time intersection loop
(services/SearchServiceImpl.java:133-140) which materializes every posting
row; here we skip whole doc-ranges and blocks that cannot contain a top-k
hit.

Physical plan:

  blocks scan pinned to the files holding the query terms' term_buckets
    -> filter term ∈ Q                                [tiny fraction of index]
    -> explode block -> covered range_ids             [head-term blocks span
                                                       exactly one range: the
                                                       build's range-sharding
                                                       width == WAND range;
                                                       fan-out bounded by the
                                                       rarest term's actual
                                                       posting ranges — see
                                                       candidate_ranges]
    -> wand_group = range_id % P                      [P tasks, each owning
                                                       many doc ranges]
    -> applyInArrow(rank_blocks)                      [per task, one Arrow
                                                       table: operators/
                                                       postings.py::rank_blocks,
                                                       the driver path's scorer:
         ranges sorted by upper bound desc;
         skip range if upper < θ (block-max pruning);
         rarest-first AND intersection w/ doc-range block skipping;
         exact BM25 scores; bounded min-heap of size offset+k]
    -> union of ≤ P·k' partial rows, no doc twice      [see "The count"]
    -> orderBy(score desc, doc_id asc).limit           [TakeOrderedAndProject]

Upper bound per (term, range) = idf · max(max_tfpart of its blocks there);
per range = Σ over query terms — sound because scores are sums of
non-negative term parts and AND candidates are a subset of every term's
postings. A range is skipped only when its bound is STRICTLY below the
current k'-th score, so score-ties (broken by doc_id asc) stay exact.

The count. A search under count_mode="exact" passes an Observation: the
tasks then skip no range, each reports its match count on its partial
rows, and the observed sum arrives with the page from the same job — no
second, exact-path count job. Every doc is scored in exactly one range
(the rarest term's window) by exactly one task, so the per-task counts
add up to the match count and the page needs no doc_id dedup.

On a multi-executor cluster the local θ per task converges from that task's
own ranges. Cross-task θ sharing (score the hot ranges first, broadcast θ,
rerun) measured ~2× slower than this single phase on a skew-heavy 60k-doc
index: the extra driver round-trip costs more than the pruning saves
(BENCH/BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType)

from ..config import EngineConfig
from ..operators.postings import np_varint_decode, rank_blocks
from .build import term_bucket

# minimum doc-range count before wand_topk spends a driver job deriving
# the rare-term range bound (below this, the unrestricted explode is
# cheaper than the extra job; see the gate in wand_topk)
RANGE_BOUND_MIN_RANGES = 64

PARTIAL_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("score", DoubleType(), False),
    StructField("matches", LongType(), False),
])


def wand_topk(spark, io, cfg: EngineConfig, terms: list[dict],
              k: int, offset: int = 0,
              blocks_df: DataFrame | None = None,
              matches: Observation | None = None) -> DataFrame:
    """terms: the query terms [{term, df, idf}] rarest-first, as
    QueryEngine.analyze (serve.lookup_terms) returns them.
    Returns DataFrame(doc_id, score) of the global top-(offset+k).
    blocks_df: optionally a pre-warmed (cached) blocks frame.
    matches: when given, the tasks score every range (no block-max
    pruning) and the first action on the frame observes the number of
    docs matching every term as matches.get["matches"] — from the same
    job. It needs k ≥ 1: Spark runs no job under limit(0)."""
    stats = io.read_meta("stats")
    avgdl = float(stats["avgdl"]) or 1.0
    kprime = offset + k
    n_tasks = spark.sparkContext.defaultParallelism
    # range width must match the shard width the index was BUILT with (the
    # alignment guarantee) — prefer the blocks manifest over current cfg
    manifest = io.read_manifest("blocks") or {}
    range_w = int(manifest.get("extra", {}).get("salt_shard_docs",
                                                cfg.salt_shard_docs))
    # stale block-max detection: max_tfpart is only a valid bound under
    # the avgdl it was encoded with (see _stage_blocks); None = mixed
    # (incrementally updated index)
    blocks_avgdl = manifest.get("extra", {}).get("avgdl")
    tf_bounds = (blocks_avgdl is None
                 or abs(float(blocks_avgdl) - avgdl) > 1e-9)

    term_order = [t["term"] for t in terms]
    buckets = sorted({term_bucket(t, cfg.term_buckets) for t in term_order})

    # a cold read pins only the files holding the query's buckets
    blocks = (
        (blocks_df if blocks_df is not None else io.read("blocks", buckets))
        .filter(F.col("term").isin(term_order))
    )
    # the rare-term range bound costs one extra driver job (~100 ms of
    # scheduling at sandbox scale), which only pays off when a spanning
    # block's explode fan-out is actually large — gate on the range count
    # so small/medium indexes keep the single-job hot path and the bound
    # kicks in exactly in the regime it exists for (explode rows grow with
    # n_ranges; the derivation cost is O(df_rare), independent of it)
    n_ranges = max(1, (int(stats.get("n_docs", 0)) + range_w - 1) // range_w)
    range_filter = (candidate_ranges(blocks, terms, cfg, range_w)
                    if n_ranges > RANGE_BOUND_MIN_RANGES else None)
    exploded = explode_coverage(blocks, range_w, n_tasks, range_filter)

    k1, b, count = cfg.bm25_k1, cfg.bm25_b, matches is not None

    def task(tbl):
        import pyarrow as pa

        top, n = rank_blocks(tbl, terms, avgdl, k1, b, kprime, range_w,
                             tf_bounds, count)
        # the task's match count rides on its first row (a task with
        # matches has a row: kprime ≥ 1)
        return pa.table({
            "doc_id": pa.array([d for d, _ in top], pa.int64()),
            "score": pa.array([sc for _, sc in top], pa.float64()),
            "matches": pa.array([n] + [0] * (len(top) - 1) if top else [],
                                pa.int64())})

    partial = exploded.groupBy("wand_group").applyInArrow(
        task, schema=PARTIAL_SCHEMA)
    if count:
        partial = partial.observe(
            matches, F.coalesce(F.sum("matches"), F.lit(0)).alias("matches"))
    # no doc_id dedup: a range scores only the rarest term's postings in
    # its own window and lives in one task, so each doc is emitted once
    return (partial.select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .offset(offset).limit(k))


def candidate_ranges(blocks: DataFrame, terms: list[dict],
                     cfg: EngineConfig, range_w: int) -> list[int] | None:
    """Ranges that can possibly contain an AND hit, derived from the
    RAREST term's actual postings — the fan-out bound for the explode.

    A NON-sharded term's 128-posting block can span the whole doc-id
    space: exploding it to every covered range yields ~n_docs/range_w
    metadata rows per block and, worse, makes every range a task that
    re-decodes the same block (at 10^12 docs: ~4×10^7 rows per rare term
    in a mixed "rare AND stopword" query). AND semantics means a range
    without a posting of the rarest term can never produce a hit, so when
    the rarest term is unsharded (df ≤ salt_df_threshold — a BOUNDED
    decode) its posting ranges are computed once driver-side from its
    file-pruned blocks (≤ df postings ⇒ ≤ df/block_size block rows,
    a few hundred KB) and every term's coverage is filtered to them:
    exploded rows become O(Σ_t blocks_t + df_rare) instead of
    O(n_ranges). When even the rarest term is sharded, every query term
    is (df is minimal at terms[0]), every block covers exactly one range
    by the shard-width == range-width alignment, and no restriction is
    needed — returns None (also avoids decoding a 10^11-posting term).

    terms is rarest-first (O1, plans/query.py)."""
    import numpy as np

    rare = terms[0]
    if int(rare["df"]) > cfg.salt_df_threshold:
        return None
    rare_bins = (blocks.filter(F.col("term") == rare["term"])
                 .select("docs_bin").collect())
    rset: set[int] = set()
    for row in rare_bins:
        ids = np.cumsum(np_varint_decode(bytes(row["docs_bin"])))
        rset.update(np.unique(ids // range_w).tolist())
    return sorted(rset)


def explode_coverage(blocks: DataFrame, range_w: int, n_tasks: int,
                     range_filter: list[int] | None) -> DataFrame:
    """Explode each block to every doc-range it covers (sharded head-term
    blocks cover exactly one: shard width == range width), restricted to
    the candidate_ranges bound when one was derived. The isin list plans
    as an InSet hash lookup (above the In→InSet conversion threshold)."""
    exploded = (
        blocks
        .withColumn("range_id",
                    F.explode(F.sequence(
                        (F.col("doc_min") / F.lit(range_w)).cast("long"),
                        (F.col("doc_max") / F.lit(range_w)).cast("long"))))
        .withColumn("wand_group",
                    (F.col("range_id") % F.lit(n_tasks)).cast("int"))
    )
    if range_filter is not None:
        exploded = exploded.filter(F.col("range_id").isin(range_filter))
    return exploded

