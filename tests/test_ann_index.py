"""Materialized LSH-ANN index: partitioned-by-bucket layout, multi-probe
reads, and partition pruning in the physical plan."""

import pytest
from conftest import job_group

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


@pytest.fixture(scope="module")
def query_vec(emb):
    row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return [float(x) for x in row["embedding"]]


@pytest.fixture(scope="module")
def index(spark, emb, tmp_path_factory):
    from searchengine_spark.operators.similarity import LshAnnIndex

    path = str(tmp_path_factory.mktemp("ann") / "lsh_index")
    return LshAnnIndex(spark, path, dim=64, n_planes=8).build(emb)


def test_indexed_matches_adhoc_multiprobe(index, emb, query_vec):
    from searchengine_spark.operators.similarity import lsh_ann_topk

    got = index.ann_topk(query_vec, k=5, probe_radius=1,
                         exclude_id=0).collect()
    want = lsh_ann_topk(emb, query_vec, k=5, n_planes=8, exclude_id=0,
                        probe_radius=1).collect()
    assert [(r["vec_id"], r["cos"]) for r in got] == \
           [(r["vec_id"], r["cos"]) for r in want]


def test_indexed_scan_is_partition_pruned(index, query_vec):
    from searchengine_spark.operators.similarity import (lsh_bucket_of,
                                                         probe_buckets)

    df = index.ann_topk(query_vec, k=5, probe_radius=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    probes = probe_buckets(lsh_bucket_of(query_vec, 8), 8, 1)
    assert len(probes) == 9  # query bucket + 8 single-bit flips


def test_multiprobe_recall_superset(emb, query_vec):
    """radius-1 probing must return cosine scores >= single-probe at every
    rank (it scans a superset of vectors)."""
    from searchengine_spark.operators.similarity import lsh_ann_topk

    single = lsh_ann_topk(emb, query_vec, k=5, n_planes=8,
                          exclude_id=0).collect()
    multi = lsh_ann_topk(emb, query_vec, k=5, n_planes=8, exclude_id=0,
                         probe_radius=1).collect()
    assert len(multi) >= len(single)
    for m, s in zip(multi, single):
        assert m["cos"] >= s["cos"] - 1e-9


@pytest.fixture(scope="module")
def ivf_index(spark, emb, tmp_path_factory):
    from searchengine_spark.operators.similarity import IvfAnnIndex

    path = str(tmp_path_factory.mktemp("ann") / "ivf_index")
    return IvfAnnIndex(spark, path, dim=64).build(emb)


def test_ivf_indexed_matches_adhoc(ivf_index, emb, query_vec):
    from searchengine_spark.operators.similarity import ivf_ann_topk

    for n_probe in (1, 2):
        got = ivf_index.ann_topk(query_vec, k=5, n_probe=n_probe,
                                 exclude_id=0).collect()
        want = ivf_ann_topk(emb, query_vec, k=5, exclude_id=0,
                            n_probe=n_probe).collect()
        assert [(r["vec_id"], r["cos"]) for r in got] == \
               [(r["vec_id"], r["cos"]) for r in want]


def test_ivf_indexed_scan_is_partition_pruned(ivf_index, query_vec):
    df = ivf_index.ann_topk(query_vec, k=5, n_probe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan


def test_ivf_multiprobe_superset(emb, query_vec):
    from searchengine_spark.operators.similarity import ivf_ann_topk

    single = ivf_ann_topk(emb, query_vec, k=5, exclude_id=0).collect()
    multi = ivf_ann_topk(emb, query_vec, k=5, exclude_id=0,
                         n_probe=2).collect()
    for m, s in zip(multi, single):
        assert m["cos"] >= s["cos"] - 1e-9


# --- planted-near-dup fixture: recall floors vs brute force ------------------

DIM = 16
N_BASE = 150
N_PLANTED = 12
NOISE = 0.02


@pytest.fixture(scope="module")
def planted(spark):
    """(frame, truth_pairs): random vectors + planted near-duplicates
    (base + tiny noise, pairwise cosine > 0.99). Deterministic seed."""
    import random

    rng = random.Random(20260817)
    rows = []
    for i in range(N_BASE):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(DIM)]))
    truth = []
    for j in range(N_PLANTED):
        src_id, v = rows[j * 7 % N_BASE]
        dup = [x + rng.uniform(-NOISE, NOISE) for x in v]
        rows.append((1000 + j, dup))
        truth.append((src_id, 1000 + j))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")
    return df, truth


def test_cosine_neardup_recall_floor_on_planted(planted):
    """The LSH-blocked near-dup pair operator must recover >= 75% of the
    planted >0.99-cosine pairs (a radius-0 single-bucket block loses a
    pair only when the noise crosses a hyperplane; measured recall on this
    fixture is stable at 10-12 of 12)."""
    from searchengine_spark.operators.similarity import cosine_neardup_pairs

    df, truth = planted
    got = {(r["id_a"], r["id_b"])
           for r in cosine_neardup_pairs(df, dim=DIM, n_planes=8,
                                         threshold=0.98).collect()}
    hits = sum(1 for p in truth if p in got)
    recall = hits / len(truth)
    assert recall >= 0.75, f"recall {recall:.2f} below floor"
    # precision is exact by construction: every emitted pair really has
    # cosine >= threshold (verified filter) — planted are the only such
    assert got <= set(truth)


def test_cosine_neardup_multiset_recall_floor(planted):
    """Union over L=3 independent plane sets: a planted pair is missed only
    if the noise crosses a hyperplane in EVERY set (P(miss) ~ p^3), so the
    recall floor rises from 0.75 (single set) to 0.95; the exact-cosine
    verify keeps precision exact, and single-set pairs are a subset of the
    multiset result (set 0 is the single set)."""
    from searchengine_spark.operators.similarity import cosine_neardup_pairs

    df, truth = planted
    single = {(r["id_a"], r["id_b"])
              for r in cosine_neardup_pairs(df, dim=DIM, n_planes=8,
                                            threshold=0.98).collect()}
    got = {(r["id_a"], r["id_b"])
           for r in cosine_neardup_pairs(df, dim=DIM, n_planes=8,
                                         threshold=0.98,
                                         n_plane_sets=3).collect()}
    recall = sum(1 for p in truth if p in got) / len(truth)
    assert recall >= 0.95, f"multiset recall {recall:.2f} below floor"
    assert single <= got  # union can only add candidates
    assert got <= set(truth)  # verify stage keeps precision exact


def test_lsh_index_recall_floor_on_planted(planted, spark, tmp_path_factory):
    """Multi-probe (radius-1) LshAnnIndex top-k vs brute force for planted
    near-dup queries: the true near-duplicate must be found for >= 90% of
    queries (radius-1 probing recovers single-bit bucket splits)."""
    from searchengine_spark.operators.similarity import (LshAnnIndex,
                                                         cosine_topk)

    df, truth = planted
    path = str(tmp_path_factory.mktemp("ann") / "planted_lsh")
    idx = LshAnnIndex(spark, path, dim=DIM, n_planes=8).build(df)
    vecs = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}
    found = 0
    for src, dup in truth:
        got = [r["vec_id"] for r in
               idx.ann_topk(vecs[dup], k=3, probe_radius=1,
                            exclude_id=dup).collect()]
        want = [r["vec_id"] for r in
                cosine_topk(df, vecs[dup], k=1, exclude_id=dup).collect()]
        assert want == [src]  # brute force always finds the planted source
        if src in got:
            found += 1
    recall = found / len(truth)
    assert recall >= 0.9, f"ANN recall {recall:.2f} below floor"


# --- trained (Lloyd's) IVF centroids ----------------------------------------


@pytest.fixture(scope="module")
def clustered(spark):
    """Vectors drawn around 4 tight, far-apart cluster centers that do NOT
    coincide with the fixed pseudo-random quantizer's centroids — the
    regime where an untrained quantizer skews inverted-list sizes."""
    import random

    rng = random.Random(42)
    centers = [[rng.uniform(-4, 4) for _ in range(DIM)] for _ in range(4)]
    rows = []
    for i in range(240):
        c = centers[i % 4]
        rows.append((i, [x + rng.uniform(-0.15, 0.15) for x in c]))
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def test_trained_centroids_balance_lists(spark, clustered):
    """Lloyd's-trained centroids must spread the inverted lists strictly
    more evenly than the fixed quantizer on clustered data (max list size
    closer to the n/k ideal)."""
    from searchengine_spark.operators.similarity import (ivf_assign,
                                                         train_ivf_centroids)

    def max_list(centroids):
        a = ivf_assign(clustered, DIM, 4, centroids=centroids)
        sizes = [r["n"] for r in
                 a.groupBy("centroid").agg(F.count("*").alias("n")).collect()]
        return max(sizes), len(sizes)

    untrained_max, _ = max_list(None)
    cents = train_ivf_centroids(clustered, DIM, 4, n_iter=4)
    trained_max, n_lists = max_list(cents)
    # 4 planted clusters of 60: trained k-means should find them (max 60);
    # fixed pseudo-random centroids lump clusters together
    assert trained_max < untrained_max
    assert trained_max <= 120  # strictly better than 3-in-1 lumping
    assert n_lists >= 2


def test_trained_centroids_are_deterministic(spark, clustered):
    from searchengine_spark.operators.similarity import train_ivf_centroids

    a = train_ivf_centroids(clustered, DIM, 4, n_iter=3)
    b = train_ivf_centroids(clustered, DIM, 4, n_iter=3)
    assert a == b  # fixed init, fixed iterations, rounded updates


def test_trained_ivf_index_recall_and_sidecar(spark, clustered,
                                              tmp_path_factory):
    """A trained IvfAnnIndex must (a) persist its centroids in the sidecar
    so a REOPENED index routes with the quantizer the lists were built
    with, and (b) achieve single-probe recall >= the untrained index on
    the clustered fixture (trained lists align with the true clusters)."""
    from searchengine_spark.operators.similarity import (IvfAnnIndex,
                                                         cosine_topk)

    path_t = str(tmp_path_factory.mktemp("ann") / "ivf_trained")
    path_u = str(tmp_path_factory.mktemp("ann") / "ivf_untrained")
    trained = IvfAnnIndex(spark, path_t, dim=DIM, n_centroids=4).build(
        clustered, train=True, train_iter=4)
    untrained = IvfAnnIndex(spark, path_u, dim=DIM, n_centroids=4).build(
        clustered)
    assert trained.centroids is not None

    # reopen from disk: centroids come from the sidecar, results identical
    reopened = IvfAnnIndex(spark, path_t, dim=DIM, n_centroids=4)
    vecs = {r["vec_id"]: list(r["embedding"]) for r in clustered.collect()}
    q = vecs[1]
    got_a = trained.ann_topk(q, k=5, exclude_id=1).collect()
    got_b = reopened.ann_topk(q, k=5, exclude_id=1).collect()
    assert [(r["vec_id"], r["cos"]) for r in got_a] == \
           [(r["vec_id"], r["cos"]) for r in got_b]
    assert reopened.centroids == trained.centroids

    def recall(idx):
        hits = 0
        for qid in range(0, 40, 4):
            want = [r["vec_id"] for r in
                    cosine_topk(clustered, vecs[qid], k=3,
                                exclude_id=qid).collect()]
            got = [r["vec_id"] for r in
                   idx.ann_topk(vecs[qid], k=3, exclude_id=qid).collect()]
            hits += len(set(want) & set(got))
        return hits

    assert recall(trained) >= recall(untrained)
    assert recall(trained) >= int(0.9 * 10 * 3)  # near-perfect on clusters


def test_ivf_index_refuses_probe_without_sidecar(spark, clustered,
                                                 tmp_path_factory):
    """The _centroids.json sidecar is the routing commit marker: a build
    that crashed between the parquet write and the sidecar write must make
    a reopened index REFUSE to probe (silently routing a k-means layout
    with default centroids returns wrong neighbors with no error)."""
    import os

    path = str(tmp_path_factory.mktemp("ann") / "ivf_crashed")
    IvfAnnIndex = __import__("searchengine_spark.operators.similarity",
                             fromlist=["IvfAnnIndex"]).IvfAnnIndex
    IvfAnnIndex(spark, path, dim=DIM, n_centroids=4).build(
        clustered, train=True, train_iter=2)
    os.remove(os.path.join(path, "_centroids.json"))  # simulate the crash
    reopened = IvfAnnIndex(spark, path, dim=DIM, n_centroids=4)
    with pytest.raises(ValueError, match="sidecar"):
        reopened.ann_topk([0.0] * DIM, k=3)


# --- IVF-PQ: product-quantized ANN index -------------------------------------


@pytest.fixture(scope="module")
def pq_index(spark, emb, tmp_path_factory):
    from searchengine_spark.operators.similarity import IvfPqIndex

    path = str(tmp_path_factory.mktemp("ann") / "pq_index")
    # 64-d fixture: m=16 subspaces (4 dims each) — the fixture is
    # near-random data (top cosines ~0.3), so the finer grid is what keeps
    # ADC rank noise below the tiny true-neighbor margins
    return IvfPqIndex(spark, path, dim=64, m=16).build(emb, train_iter=4)


def test_ivfpq_compression_layout(pq_index, spark, emb):
    """The stored index is codes+norm, never raw vectors: tinyint codes of
    length m (16 B/vector vs 256 B raw float32) and a partition-pruned
    centroid layout."""
    import os

    t = spark.read.parquet(pq_index.path)
    codes_field = dict((f.name, f.dataType.simpleString())
                       for f in t.schema.fields)
    assert codes_field["codes"] == "array<tinyint>"
    assert t.select(F.size("codes")).distinct().collect()[0][0] == 16
    assert t.count() == emb.count()

    def dir_bytes(p):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(p) for f in fs
                   if f.endswith(".parquet"))

    raw = os.path.getsize("/root/testdata/sf0.01/embeddings.parquet")
    assert dir_bytes(pq_index.path) < raw


def test_ivfpq_scan_is_partition_pruned(pq_index, query_vec):
    df = pq_index.ann_topk(query_vec, k=5, n_probe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan


def test_ivfpq_fixture_recall_floor(pq_index, emb, query_vec):
    """Rerank recall vs brute force on the real fixture. The fixture is
    near-random (weak neighbor structure), so single-digit probes lose to
    IVF routing — measured 0.6 at n_probe=2 and 1.0 when ADC ranks the
    whole table (n_probe=4 of 4) with rerank_factor=8; floors sit under
    the measured values."""
    from searchengine_spark.operators.similarity import cosine_topk

    brute = {r["vec_id"] for r in
             cosine_topk(emb, query_vec, 10, exclude_id=0).collect()}
    got2 = {r["vec_id"] for r in
            pq_index.ann_topk(query_vec, k=10, n_probe=2, exclude_id=0,
                              rerank_df=emb).collect()}
    assert len(got2 & brute) / 10 >= 0.5
    got4 = {r["vec_id"] for r in
            pq_index.ann_topk(query_vec, k=10, n_probe=4, exclude_id=0,
                              rerank_df=emb, rerank_factor=8).collect()}
    assert len(got4 & brute) / 10 >= 0.9
    # rerank scores are EXACT cosine: equal to brute for the common ids
    brute_cos = {r["vec_id"]: r["cos"] for r in
                 cosine_topk(emb, query_vec, 10, exclude_id=0).collect()}
    for r in pq_index.ann_topk(query_vec, k=10, n_probe=4, exclude_id=0,
                               rerank_df=emb, rerank_factor=8).collect():
        if r["vec_id"] in brute_cos:
            assert abs(r["cos"] - brute_cos[r["vec_id"]]) < 1e-9


def test_ivfpq_full_rerank_needs_no_count(spark, pq_index, emb, query_vec):
    """rerank_factor=None re-ranks every probed candidate: with all lists
    probed the result is brute-force kNN, and it needs no count job to
    size a whole-table rerank pool (k·⌈n/k⌉) first."""
    from searchengine_spark.operators.similarity import cosine_topk

    def run(group, query):
        with job_group(spark.sparkContext, group) as jobs:
            rows = query().collect()
        return sorted((r["vec_id"], r["cos"]) for r in rows), jobs()

    def probe(rerank_factor):
        return pq_index.ann_topk(query_vec, k=10,
                                 n_probe=pq_index.n_centroids, exclude_id=0,
                                 rerank_df=emb, rerank_factor=rerank_factor)

    def sized_pool():
        n = emb.count()
        return probe(-(-n // 10))

    full, full_jobs = run("ivfpq-full-rerank", lambda: probe(None))
    sized, sized_jobs = run("ivfpq-sized-rerank", sized_pool)
    brute, _ = run("ivfpq-brute",
                   lambda: cosine_topk(emb, query_vec, 10, exclude_id=0))
    assert full == brute == sized
    assert full_jobs <= sized_jobs - 1, (full_jobs, sized_jobs)


def test_ivfpq_planted_recall(spark, planted, tmp_path_factory):
    """Planted >0.99-cosine near-dups must surface in the PQ index's top-3
    (measured 12/12; floor 0.9) — the regime PQ exists for, where true
    neighbors stand far above the background."""
    from searchengine_spark.operators.similarity import IvfPqIndex

    df, truth = planted
    path = str(tmp_path_factory.mktemp("ann") / "pq_planted")
    idx = IvfPqIndex(spark, path, dim=DIM, m=4).build(df, train_iter=4)
    hits = 0
    for src, dup in truth:
        sv = [float(x) for x in
              df.filter(F.col("vec_id") == src).first()["embedding"]]
        got = [r["vec_id"] for r in
               idx.ann_topk(sv, k=3, n_probe=2, exclude_id=src,
                            rerank_df=df).collect()]
        hits += dup in got
    assert hits / len(truth) >= 0.9


def test_ivfpq_deterministic_and_sidecar(spark, emb, tmp_path_factory):
    import json
    import os

    from searchengine_spark.operators.similarity import IvfPqIndex

    p1 = str(tmp_path_factory.mktemp("ann") / "pq_a")
    p2 = str(tmp_path_factory.mktemp("ann") / "pq_b")
    i1 = IvfPqIndex(spark, p1, dim=64, m=16).build(emb, train_iter=3)
    i2 = IvfPqIndex(spark, p2, dim=64, m=16).build(emb, train_iter=3)
    with open(os.path.join(p1, "_pq_meta.json")) as f:
        m1 = json.load(f)
    with open(os.path.join(p2, "_pq_meta.json")) as f:
        m2 = json.load(f)
    assert m1 == m2  # same input => identical quantizer + codebooks
    # and identical codes row-for-row
    r1 = sorted(spark.read.parquet(p1).collect(),
                key=lambda r: r["vec_id"])
    r2 = sorted(spark.read.parquet(p2).collect(),
                key=lambda r: r["vec_id"])
    assert [(r["vec_id"], r["centroid"], list(r["codes"])) for r in r1] == \
           [(r["vec_id"], r["centroid"], list(r["codes"])) for r in r2]


def test_ivfpq_refuses_probe_without_sidecar(spark, emb, query_vec,
                                             tmp_path_factory):
    """No _pq_meta.json => the build did not complete; probing must refuse
    (mis-routing with wrong codebooks would silently return garbage)."""
    import os

    from searchengine_spark.operators.similarity import IvfPqIndex

    path = str(tmp_path_factory.mktemp("ann") / "pq_crash")
    IvfPqIndex(spark, path, dim=64, m=16).build(emb, train_iter=2)
    os.remove(os.path.join(path, "_pq_meta.json"))
    fresh = IvfPqIndex(spark, path, dim=64, m=16)  # reopened, no memory
    with pytest.raises(ValueError, match="sidecar"):
        fresh.ann_topk(query_vec, k=5)


def test_ivfpq_append_equals_frozen_rebuild(spark, emb, query_vec,
                                            tmp_path_factory):
    """The FAISS `add` contract: append encodes new vectors with the
    index's frozen quantizers, so build(A)+append(B) is byte-identical
    (codes, centroids, norms) to a frozen-quantizer rebuild over A∪B —
    and probes agree row-for-row."""
    from searchengine_spark.operators.similarity import IvfPqIndex

    a = emb.filter(F.col("vec_id") < 250)
    b = emb.filter(F.col("vec_id") >= 250)
    p_inc = str(tmp_path_factory.mktemp("ann") / "pq_inc")
    p_full = str(tmp_path_factory.mktemp("ann") / "pq_full")
    inc = IvfPqIndex(spark, p_inc, dim=64, m=16).build(a, train_iter=3)
    inc.append(b)
    full = IvfPqIndex(spark, p_full, dim=64, m=16).build(
        emb, coarse=inc.coarse, codebooks=inc.codebooks)

    def rows(path):
        return sorted(
            ((r["vec_id"], r["centroid"], list(r["codes"]), r["norm"])
             for r in spark.read.parquet(path).collect()))

    assert rows(p_inc) == rows(p_full)
    # reopened-from-disk probe over appended index = rebuild probe
    reopened = IvfPqIndex(spark, p_inc, dim=64, m=16)
    got = reopened.ann_topk(query_vec, k=5, n_probe=2, exclude_id=0,
                            rerank_df=emb).collect()
    want = full.ann_topk(query_vec, k=5, n_probe=2, exclude_id=0,
                         rerank_df=emb).collect()
    assert [(r["vec_id"], r["cos"]) for r in got] == \
           [(r["vec_id"], r["cos"]) for r in want]


def test_ivfpq_append_refuses_uncommitted_or_mismatched(spark, emb,
                                                        tmp_path_factory):
    """Append without a committed sidecar (half-built index) refuses, as
    does reopening with different PQ params — appended codes would be
    incomparable with the on-disk layout."""
    import os

    from searchengine_spark.operators.similarity import IvfPqIndex

    path = str(tmp_path_factory.mktemp("ann") / "pq_apfail")
    built = IvfPqIndex(spark, path, dim=64, m=16).build(emb, train_iter=2)
    wrong_m = IvfPqIndex(spark, path, dim=64, m=8)
    with pytest.raises(ValueError, match="incomparable"):
        wrong_m.append(emb)
    os.remove(os.path.join(path, "_pq_meta.json"))
    fresh = IvfPqIndex(spark, path, dim=64, m=16)
    with pytest.raises(ValueError, match="sidecar"):
        fresh.append(emb)
    # the SAME object that ran the (now-uncommitted) build still holds
    # trained quantizers in memory — append must consult DISK, not them
    # (the failed-build scenario: quantizers assigned, write crashed)
    assert built.coarse is not None
    with pytest.raises(ValueError, match="sidecar"):
        built.append(emb)


def test_ivfpq_refused_append_keeps_quantizers(spark, emb, tmp_path_factory):
    """A refused append (no committed sidecar) must leave the object's
    in-memory quantizers intact, so a caller can still retry a failed
    build with build(df, coarse=obj.coarse, codebooks=obj.codebooks)."""
    import os

    from searchengine_spark.operators.similarity import IvfPqIndex

    path = str(tmp_path_factory.mktemp("ann") / "pq_keep")
    built = IvfPqIndex(spark, path, dim=64, m=16).build(emb, train_iter=2)
    coarse, books = built.coarse, built.codebooks
    os.remove(os.path.join(path, "_pq_meta.json"))
    with pytest.raises(ValueError, match="sidecar"):
        built.append(emb)
    assert built.coarse == coarse and built.codebooks == books
