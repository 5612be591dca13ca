"""Deterministic, dense, cluster-reproducible doc-id assignment.

The reference relies on MySQL autoincrement PKs (model/Page.java:13-16) —
nondeterministic under parallel load. Delta-gap posting compression and
rank-identical tiebreaks both need ids that are dense and identical on every
run and cluster size, so we define:

    doc_id = position of url in the ordering  (bucket(url), url)
    bucket(url) = int(md5(url)[:8], 16) % n_buckets

Two-phase, scale-aware plan:

  1. compute_bucket_offsets(pages): one job over a URL-ONLY projection —
     Catalyst prunes the scan to the url column, so the heavy html BINARY
     never loads; returns n_buckets scalars (driver prefix sums).
  2. attach_doc_ids(df, offsets): hash-bucket shuffle + per-bucket window
     sort of the (already extracted, html-free) frame + offset add.

No global sort, no monotonically_increasing_id (partition-dependent), no
collect of data rows. Scales by raising n_buckets (keep ≥ executor cores;
thousands on a real cluster). Matches oracle.assign_doc_ids exactly
(same md5 spec).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udfs import url_bucket_col


def compute_bucket_offsets(urls: DataFrame, n_buckets: int,
                           url_col: str = "url") -> dict[int, int]:
    """Per-bucket start offsets from a url-only aggregation (tiny result)."""
    counts = {
        r["_bucket"]: r["cnt"]
        for r in (urls.select(url_col)
                  .withColumn("_bucket", url_bucket_col(F.col(url_col), n_buckets))
                  .groupBy("_bucket").agg(F.count("*").alias("cnt"))
                  .collect())
    }
    return bucket_offsets(counts, n_buckets)


def bucket_offsets(counts: dict[int, int], n_buckets: int) -> dict[int, int]:
    """Per-bucket start offsets (prefix sums) of per-bucket url counts."""
    offsets, acc = {}, 0
    for b in range(n_buckets):
        offsets[b] = acc
        acc += counts.get(b, 0)
    return offsets


def attach_doc_ids(df: DataFrame, offsets: dict[int, int], n_buckets: int,
                   url_col: str = "url",
                   keep_bucket_as: str | None = None) -> DataFrame:
    """Add the dense `doc_id` column using precomputed bucket offsets.

    keep_bucket_as: keep the bucket column under that name instead of
    dropping it. The window already hash-partitions the frame by the
    bucket, so a downstream bucket-clustered write needs NO further
    exchange — recomputing the same value into a fresh column would cost
    the build a third full shuffle of the docs table."""
    mapping = F.create_map(*[x for b in range(n_buckets)
                             for x in (F.lit(b), F.lit(offsets[b]))])
    w = Window.partitionBy("_bucket").orderBy(F.col(url_col))
    out = (df.withColumn("_bucket", url_bucket_col(F.col(url_col), n_buckets))
           .withColumn("doc_id",
                       (F.row_number().over(w) - 1 + mapping[F.col("_bucket")])
                       .cast("long")))
    if keep_bucket_as:
        return out.withColumnRenamed("_bucket", keep_bucket_as)
    return out.drop("_bucket")

