"""Engine configuration. One dataclass, explicit defaults, no env magic."""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # ranking (north_rule: BM25 k1=1.2 b=0.75)
    bm25_k1: float = 1.2
    bm25_b: float = 0.75
    # query analysis: prune lemma if df/N > threshold
    # (reference SearchServiceImpl.java:161)
    stopword_df_ratio: float = 0.95
    # deterministic doc-id assignment buckets: the logical url_bucket
    # layout of the docs table (raise to thousands on a real cluster).
    # Buckets are not files: the table is min(buckets, cores) files, each
    # holding whole buckets, so the count must never cap parallelism
    # below the core count — 64 covers local[32].
    doc_id_buckets: int = 64
    # posting-block codec
    block_size: int = 128
    # skew handling: terms with df > salt_df_threshold are range-sharded by
    # doc_id so no single build task materializes a full stopword posting list
    salt_df_threshold: int = 50_000
    salt_shard_docs: int = 25_000  # docs per range shard for head terms
    # postings/terms/site_stats/blocks layout: term-hash buckets, the unit
    # of query-time file pruning (the manifest records each file's bucket
    # set; a table is min(buckets, cores) files)
    term_buckets: int = 64
    # strategy="auto" routing: serve from the driver (pyarrow, no Spark
    # job) while every query term's posting list fits one process
    # (plans/serve.py scale caveat); above it, distributed block-max WAND
    driver_df_limit: int = 10_000_000
    # default mirrored from the reference UI
    default_limit: int = 10  # templates/index.html:128


def recommended_spark_conf() -> dict[str, str]:
    """Session configs the engine's write path is designed for.

    FileOutputCommitter v2 commits task output into the destination as
    each task finishes instead of a serial driver-side rename pass at job
    commit — that rename pass is pure width-independent driver wall
    (measured on the former 65-directory partitioned stage writes:
    240k-doc build at local[32] 17.9 s → 15.3 s, −14%). The v2 trade-off (a failed JOB can
    leave partial files in the destination) is fully covered by this
    engine's own commit protocol: readers are manifest-pinned
    (sources/tableio.py::TableIO.read — only files listed by a COMPLETE
    stage manifest are ever read), every write lands in a side directory
    that the writer removes on every exit path (TableIO.replace_buckets),
    and vacuum() deletes unmanifested files. The same
    reasoning is why object-store committers (no atomic rename at all)
    are safe under manifest/snapshot table formats.
    """
    return {
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    }


@contextmanager
def committer_v2(spark):
    """Scope FileOutputCommitter v2 around the engine's own write phases
    (build / delta apply), so library users get the measured −14% build
    wall without having to start their session with
    recommended_spark_conf() — runtime `spark.conf.set("spark.hadoop.*")`
    is NOT picked up by newHadoopConf() in this Spark build (verified),
    so the knob is set on sc.hadoopConfiguration and restored on exit.

    Cross-talk caveat (same class as the build-scoped AQE setting in
    plans/build.py): hadoopConfiguration is context-global — a NON-engine
    write whose job starts inside this window also commits v2. The v2
    trade-off is safe for engine tables (manifest-pinned readers, vacuum;
    see recommended_spark_conf), but alien writers wanting v1 job-commit
    atomicity should not be raced against an engine build in one context.
    No-op (and no restore churn) when the session already set v2."""
    key = "mapreduce.fileoutputcommitter.algorithm.version"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get(key)
    if old == "2":
        yield
        return
    hconf.set(key, "2")
    try:
        yield
    finally:
        hconf.set(key, old) if old is not None else hconf.unset(key)


@contextmanager
def aqe_off(spark):
    """Scope adaptive query execution off around an engine write phase
    (build, upsert/remove apply); queries keep the session's setting.
    The write phases' exchanges are explicit bucket repartitions AQE
    cannot coalesce or re-plan, so its only effect there is extra
    query-stage job boundaries — each one width-independent driver wall
    (job scheduling + re-plan gap). Measured: a 240k-doc build at
    local[32], AQE on 28.4/31.0 s vs off 24.6/25.7 s (13–17% faster off);
    a 50-page upsert into 2,000 pages at local[4], 37 → 21 Spark jobs and
    median docs_per_s 5.25 → 5.76 over five alternating pairs. The
    session value is restored on every exit path; conf is session-wide,
    so a query racing a write phase sees its setting — plans stay
    correct either way, only stage boundaries differ."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)
