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
    -> applyInPandas(wand_task)                       [per task:
         ranges sorted by upper bound desc;
         skip range if upper < θ (block-max pruning);
         rarest-first AND intersection w/ doc-range block skipping;
         exact BM25 scores; bounded min-heap of size offset+k]
    -> union of ≤ P·k' partial rows
    -> orderBy(score desc, doc_id asc).limit           [TakeOrderedAndProject]

Upper bound per (term, range) = idf · max(max_tfpart of its blocks there);
per range = Σ over query terms — sound because scores are sums of
non-negative term parts and AND candidates are a subset of every term's
postings. A range is skipped only when its bound is STRICTLY below the
current k'-th score, so score-ties (broken by doc_id asc) stay exact.

On a multi-executor cluster the local θ per task converges from that task's
own ranges. Cross-task θ sharing (score the hot ranges first, broadcast θ,
rerun) measured ~2× slower than this single phase on a skew-heavy 60k-doc
index: the extra driver round-trip costs more than the pruning saves
(BENCH/BASELINE.md).
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType)

from ..config import EngineConfig
from ..operators.postings import (np_bm25_tfpart, np_intersect_score_blocks,
                                  np_varint_decode)
from .build import term_bucket

# minimum doc-range count before wand_topk spends a driver job deriving
# the rare-term range bound (below this, the unrestricted explode is
# cheaper than the extra job; see the gate in wand_topk)
RANGE_BOUND_MIN_RANGES = 64

TOPK_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("score", DoubleType(), False),
])


def _wand_task(pdf, *, term_order: list[str], idf: dict[str, float],
               avgdl: float, k1: float, b: float, kprime: int,
               range_w: int, tf_bounds: bool = False):
    """One task: blocks of several doc-ranges -> ≤ kprime (doc_id, score).

    Each doc belongs to exactly one range (doc_id // range_w); postings
    decoded from a range-spanning block are filtered to the range's doc
    window so every doc is scored exactly once, with ALL its query-term
    postings present (completeness: every block overlapping the range is in
    this group).

    Decode + scoring are numpy-vectorized via the shared kernel
    (operators/postings.py::np_intersect_score_blocks): cumsum delta
    decode, array tfpart, sorted-array intersection — no per-posting
    Python loop; score-identical to the driver serving path by
    construction. Layout unchanged; results byte-identical to the scalar
    codec (property-tested)."""
    import pandas as pd

    # heap of (score, -doc_id): worst element first under (score asc,
    # doc_id desc) == worst under our (score desc, doc_id asc) ranking
    heap: list[tuple[float, int]] = []

    def theta() -> tuple[float, int] | None:
        return (heap[0][0], -heap[0][1]) if len(heap) >= kprime else None

    by_range: dict[int, pd.DataFrame] = {
        int(r): g for r, g in pdf.groupby("range_id")
    }
    # range upper bound = Σ_t idf_t · max tfpart_t within the range.
    # tf_bounds: the stored max_tfpart baked in a different avgdl (index
    # incrementally updated since the blocks were encoded) — use the sound
    # avgdl-free cap instead: tfpart falls with dl, so tfpart(max_tf, dl=0)
    # bounds every posting of the block (looser, still exact results;
    # tightens again on refresh_blocks or a full rebuild)
    def term_bound(gg) -> float:
        if tf_bounds:
            return float(np_bm25_tfpart(gg["max_tf"].max(), 0, avgdl, k1, b))
        return float(gg["max_tfpart"].max())

    uppers: list[tuple[float, int]] = []
    for rid, g in by_range.items():
        ub = sum(idf[t] * term_bound(gg) for t, gg in g.groupby("term"))
        uppers.append((ub, rid))
    uppers.sort(reverse=True)

    for ub, rid in uppers:
        th = theta()
        if th is not None and ub < th[0]:
            break  # ranges are sorted: nothing below can beat θ either
        g = by_range[rid]
        w_lo, w_hi = rid * range_w, (rid + 1) * range_w
        per_term = {t: gg for t, gg in g.groupby("term")}
        if any(t not in per_term for t in term_order):
            continue  # AND semantics: a term absent from the range ⇒ no hit

        # rarest-first intersection with block skipping — the shared numpy
        # kernel (operators/postings.py::np_intersect_score_blocks), range
        # window applied to the first term only
        per_term_blocks = {
            t: list(zip(gg2["docs_bin"], gg2["tfs_bin"], gg2["dls_bin"],
                        gg2["doc_min"], gg2["doc_max"]))
            for t, gg2 in ((t, per_term[t].sort_values(["shard", "doc_min"]))
                           for t in term_order)
        }
        cand_docs, cand_scores = np_intersect_score_blocks(
            per_term_blocks, term_order, idf, avgdl, k1, b,
            window=(w_lo, w_hi))
        if cand_docs.size == 0:
            continue
        for d, s in zip(cand_docs.tolist(), cand_scores.tolist()):
            item = (s, -d)
            if len(heap) < kprime:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)

    return pd.DataFrame(
        {"doc_id": pd.array([-nd for _, nd in heap], dtype="int64"),
         "score": pd.array([s for s, _ in heap], dtype="float64")})


def wand_topk(spark, io, cfg: EngineConfig, terms: list[dict],
              k: int, offset: int = 0,
              blocks_df: DataFrame | None = None) -> DataFrame:
    """terms: the query terms [{term, df, idf}] rarest-first, as
    QueryEngine.analyze (serve.lookup_terms) returns them.
    Returns DataFrame(doc_id, score) of the global top-(offset+k).
    blocks_df: optionally a pre-warmed (cached) blocks frame."""
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
    idf = {t["term"]: t["idf"] for t in terms}
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

    def task(pdf):
        return _wand_task(pdf, term_order=term_order, idf=idf, avgdl=avgdl,
                          k1=cfg.bm25_k1, b=cfg.bm25_b, kprime=kprime,
                          range_w=range_w, tf_bounds=tf_bounds)

    partial = exploded.groupBy("wand_group").applyInPandas(
        task, schema=TOPK_SCHEMA)
    # NB: a doc whose postings land in one range can still be emitted by two
    # tasks only if a block spans ranges AND both copies see it — dedup by
    # doc_id keeping max (scores are identical; max is a safe dedup)
    return (partial.groupBy("doc_id").agg(F.max("score").alias("score"))
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

