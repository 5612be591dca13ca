"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exactness baseline. Dot product and norms
  via higher-order functions (zip_with/aggregate) — JVM-side, no Python.
- random-hyperplane LSH: deterministic integer-arithmetic hyperplanes
  (reproducible in ANSI SQL), sign-bit bucket codes; ANN = brute force
  within the query's bucket. At scale the bucket id becomes the shuffle /
  partition key, so a query touches one partition instead of all vectors
  (IVF-style routing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_HYPERPLANES = 8
_LCG = 2654435761  # Knuth multiplicative hash constant


def hyperplane(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j over `dim` dims.
    Integer arithmetic then a 3-decimal scale — parses to identical doubles
    in any engine (oracle SQL uses the same literals)."""
    return [((j * dim + i) * _LCG % 1000) / 1000.0 - 0.5 for i in range(dim)]


def _dot(vec_col, const: list[float]):
    arr = F.array(*[F.lit(float(x)) for x in const])
    return F.aggregate(
        F.zip_with(vec_col.cast("array<double>"), arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_cols(a, b):
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)


def cosine_scores(df: DataFrame, query_vec: list[float],
                  vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(vec_id, cos) vs a constant query vector — brute force, one pass."""
    import math

    qnorm = math.sqrt(sum(x * x for x in query_vec))
    dot = _dot(F.col(vec_col), query_vec)
    norm = F.sqrt(_dot_cols(F.col(vec_col), F.col(vec_col)))
    return df.select(
        F.col(id_col).alias("vec_id"),
        (dot / (norm * F.lit(qnorm))).alias("cos"),
    )


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                exclude_id=None) -> DataFrame:
    """Top-k by cosine, deterministic (cos desc, vec_id asc) order.
    orderBy+limit plans as TakeOrderedAndProject — bounded per-partition
    heap + driver merge, no global sort."""
    scores = cosine_scores(df, query_vec, vec_col, id_col)
    if exclude_id is not None:
        scores = scores.filter(F.col("vec_id") != F.lit(exclude_id))
    return (scores
            .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
            .limit(k)
            .select("vec_id", F.round("cos", 6).alias("cos")))


def lsh_buckets(df: DataFrame, dim: int, n_planes: int = N_HYPERPLANES,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(vec_id, bucket) — sign-bit code over n_planes hyperplanes
    (plane set 0 of the _bucket_code family)."""
    return df.select(F.col(id_col).alias("vec_id"),
                     _bucket_code(F.col(vec_col), dim, n_planes)
                     .alias("bucket"))


def lsh_bucket_of(query_vec: list[float], n_planes: int = N_HYPERPLANES) -> int:
    b = 0
    for j in range(n_planes):
        h = hyperplane(j, len(query_vec))
        if sum(x * y for x, y in zip(query_vec, h)) > 0:
            b |= 1 << j
    return b


N_CENTROIDS = 4


def ivf_centroid(c: int, dim: int) -> list[float]:
    """Deterministic pseudo-random coarse centroid c (IVF quantizer).
    Same integer-arithmetic recipe as hyperplane() with a distinct phase so
    the oracle SQL can embed identical literals; a production build would
    train these with k-means — the routing/partitioning plan is the same."""
    return [(((c * dim + i) * _LCG + 7919 * (c + 1)) % 1000) / 1000.0 - 0.5
            for i in range(dim)]


def _centroid_score(vec_col, cent: list[float]):
    """argmax over c of (v·c - ||c||²/2)  ==  nearest centroid by L2."""
    half_norm = sum(x * x for x in cent) / 2.0
    return _dot(vec_col, cent) - F.lit(half_norm)


def _default_centroids(dim: int, n_centroids: int) -> list[list[float]]:
    return [ivf_centroid(c, dim) for c in range(n_centroids)]


def _assign_col(vec_col, cents: list[list[float]]):
    """Column: index of the nearest centroid (argmax of v·c − ||c||²/2)."""
    scores = [_centroid_score(vec_col, c) for c in cents]
    best = F.lit(0)
    best_s = scores[0]
    for c in range(1, len(cents)):
        cond = scores[c] > best_s
        best = F.when(cond, F.lit(c)).otherwise(best)
        best_s = F.when(cond, scores[c]).otherwise(best_s)
    return best.cast("int")


def ivf_assign(df: DataFrame, dim: int, n_centroids: int = N_CENTROIDS,
               vec_col: str = "embedding", id_col: str = "vec_id",
               centroids: list[list[float]] | None = None) -> DataFrame:
    """(vec_id, centroid) — coarse assignment; at scale `centroid` is the
    partition key so an ANN probe scans one inverted list, IVF-style.
    centroids: explicit (e.g. k-means-trained) centroid list overriding
    the deterministic pseudo-random quantizer."""
    cents = centroids if centroids is not None \
        else _default_centroids(dim, n_centroids)
    return df.select(F.col(id_col).alias("vec_id"),
                     _assign_col(F.col(vec_col), cents).alias("centroid"))


def train_ivf_centroids(df: DataFrame, dim: int,
                        n_centroids: int = N_CENTROIDS, n_iter: int = 4,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        sample_mod: int | None = None) -> list[list[float]]:
    """Lloyd's k-means as pure DataFrame ops — the production-shaped IVF
    quantizer (untrained pseudo-random centroids skew inverted-list sizes
    at scale: hot lists approach full scans).

    assign step = the same argmax machinery as ivf_assign (one codegen'd
    projection, no shuffle); update step = posexplode(vector) →
    groupBy(centroid, pos).avg — one narrow shuffle of (n_centroids×dim)
    aggregates per iteration; the collected update is n_centroids×dim
    doubles (the standard distributed-k-means contract: centroids fit on
    the driver, data never does). Deterministic: init is the fixed
    pseudo-random quantizer, sampling is by id modulus (partition-order
    free), iteration count is fixed, and coordinates are rounded to 6
    decimals each iteration so the result is a stable cross-engine
    literal list. Empty clusters re-seed deterministically to the points
    FARTHEST from their assigned centroid (ties by vec_id) — Lloyd's from
    a fixed init otherwise converges to local optima where one list stays
    empty and two true clusters share a centroid (the skew this trainer
    exists to remove)."""
    vecs = df.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    if sample_mod and sample_mod > 1:
        vecs = vecs.filter(F.col("vec_id") % F.lit(sample_mod) == 0)
    cents = _default_centroids(dim, n_centroids)
    for _ in range(n_iter):
        assigned = vecs.select("vec_id", "v",
                               _assign_col(F.col("v"), cents)
                               .alias("centroid"))
        rows = (assigned
                .select("centroid",
                        F.posexplode(F.col("v")).alias("pos", "x"))
                .groupBy("centroid", "pos")
                .agg(F.avg("x").alias("m")).collect())
        new = [list(c) for c in cents]
        seen = set()
        for r in rows:
            new[r["centroid"]][r["pos"]] = round(float(r["m"]), 6)
            seen.add(r["centroid"])
        empty = [c for c in range(n_centroids) if c not in seen]
        if empty:
            # L2² to the assigned centroid = ||v||² − 2·(v·c − ||c||²/2);
            # one TakeOrdered over the (small, sampled) training frame
            d2 = None
            for c, cent in enumerate(cents):
                s = _centroid_score(F.col("v"), cent)
                d2 = (s if d2 is None else F.greatest(d2, s))
            dist = _dot_cols(F.col("v"), F.col("v")) - 2 * d2
            far = (assigned.withColumn("d2", dist)
                   .orderBy(F.col("d2").desc(), F.col("vec_id").asc())
                   .limit(len(empty)).collect())
            for c, r in zip(empty, far):
                new[c] = [round(float(x), 6) for x in r["v"]]
        cents = new
    return cents


def ivf_centroid_of(query_vec: list[float],
                    n_centroids: int = N_CENTROIDS,
                    centroids: list[list[float]] | None = None) -> int:
    return ivf_centroids_of(query_vec, 1, n_centroids, centroids)[0]


def ivf_centroids_of(query_vec: list[float], n_probe: int,
                     n_centroids: int = N_CENTROIDS,
                     centroids: list[list[float]] | None = None) -> list[int]:
    """The n_probe nearest coarse centroids (multi-probe IVF list set)."""
    dim = len(query_vec)
    cents = centroids if centroids is not None \
        else _default_centroids(dim, n_centroids)
    scored = []
    for c, cent in enumerate(cents):
        s = sum(x * y for x, y in zip(query_vec, cent)) \
            - sum(x * x for x in cent) / 2.0
        scored.append((-s, c))
    return sorted(c for _, c in sorted(scored)[:n_probe])


def ivf_ann_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                 n_centroids: int = N_CENTROIDS, vec_col: str = "embedding",
                 id_col: str = "vec_id", exclude_id=None,
                 n_probe: int = 1,
                 centroids: list[list[float]] | None = None) -> DataFrame:
    """ANN: brute-force cosine restricted to the query's n_probe nearest
    IVF lists (n_probe=1 is the classic single-probe quantizer)."""
    dim = len(query_vec)
    probes = ivf_centroids_of(query_vec, n_probe, n_centroids, centroids)
    members = (ivf_assign(df, dim, n_centroids, vec_col, id_col, centroids)
               .filter(F.col("centroid").isin(probes))
               .select(F.col("vec_id").alias("_m")))
    in_list = df.join(members, F.col(id_col) == F.col("_m"), "left_semi")
    return cosine_topk(in_list, query_vec, k, vec_col, id_col, exclude_id)


class IvfAnnIndex:
    """Materialized IVF index: embeddings written once partitioned by
    coarse-centroid id; a probe reads n_probe inverted lists' partition
    dirs only (same layout discipline as LshAnnIndex — the partitioned
    table IS the index; n_centroids grows to sqrt(n) at scale).

    build(train=True) runs the Lloyd's trainer (train_ivf_centroids) and
    persists the trained centroids in a `_centroids.json` sidecar inside
    the index directory (the leading underscore keeps Spark's parquet
    reader from treating it as data), so probes against a reopened index
    route with the SAME quantizer the lists were built with — the
    assignment function is part of the index, not of the session."""

    def __init__(self, spark, path: str, dim: int,
                 n_centroids: int = N_CENTROIDS,
                 centroids: list[list[float]] | None = None):
        self.spark = spark
        self.path = path
        self.dim = dim
        self.n_centroids = n_centroids
        self.centroids = centroids

    def build(self, df: DataFrame, vec_col: str = "embedding",
              id_col: str = "vec_id", train: bool = False,
              train_iter: int = 4,
              sample_mod: int | None = None) -> "IvfAnnIndex":
        if train:
            self.centroids = train_ivf_centroids(
                df, self.dim, self.n_centroids, n_iter=train_iter,
                vec_col=vec_col, id_col=id_col, sample_mod=sample_mod)
        a = ivf_assign(df, self.dim, self.n_centroids, vec_col, id_col,
                       self.centroids)
        (df.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).alias("embedding"))
           .join(a, "vec_id")
           .repartition("centroid")
           .write.mode("overwrite").partitionBy("centroid")
           .parquet(self.path))
        # ALWAYS persist the resolved quantizer (trained or default):
        # the sidecar is the index's commit marker for routing — a crash
        # between the parquet write and this point leaves no sidecar, and
        # a reopened index then REFUSES to probe (below) instead of
        # silently routing a k-means layout with the default centroids
        import json
        import os
        resolved = (self.centroids if self.centroids is not None
                    else _default_centroids(self.dim, self.n_centroids))
        tmp = os.path.join(self.path, "_centroids.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"centroids": resolved}, f)
        os.replace(tmp, os.path.join(self.path, "_centroids.json"))
        self.centroids = resolved
        return self

    def _index_centroids(self) -> list[list[float]]:
        if self.centroids is not None:
            return self.centroids
        import json
        import os
        p = os.path.join(self.path, "_centroids.json")
        if not os.path.exists(p):
            raise ValueError(
                f"IVF index at {self.path} has no _centroids.json sidecar: "
                "the build did not complete (or predates the sidecar). "
                "Rebuild, or pass centroids= explicitly.")
        with open(p) as f:
            self.centroids = json.load(f)["centroids"]
        return self.centroids

    def ann_topk(self, query_vec: list[float], k: int = 10,
                 n_probe: int = 1, exclude_id=None) -> DataFrame:
        probes = ivf_centroids_of(query_vec, n_probe, self.n_centroids,
                                  self._index_centroids())
        scan = (self.spark.read.parquet(self.path)
                .filter(F.col("centroid").isin(probes)))
        return cosine_topk(scan, query_vec, k, "embedding", "vec_id",
                           exclude_id)


# --- product quantization (IVF-PQ) -----------------------------------------

PQ_M = 8    # subspaces
PQ_KS = 16  # sub-centroids per subspace codebook


def _np_assign(vecs, cents):
    """numpy argmin-by-L2 against a centroid matrix: argmax over c of
    (v·c − ||c||²/2) — ties resolve to the LOWEST index (np.argmax
    contract), matching _assign_col's when-chain."""
    import numpy as np

    c = np.asarray(cents, dtype=np.float64)
    scores = vecs @ c.T - 0.5 * (c * c).sum(axis=1)
    return np.argmax(scores, axis=1)


def train_pq_codebooks(df: DataFrame, dim: int, m: int = PQ_M,
                       ks: int = PQ_KS, n_iter: int = 4,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       coarse: list[list[float]] | None = None,
                       sample_mod: int | None = None) -> list[list[list[float]]]:
    """m per-subspace codebooks (ks centroids of dim/m each): Lloyd's
    k-means on the coarse-quantizer RESIDUALS, trained DRIVER-SIDE on a
    bounded id-modulus sample — the standard PQ contract (what FAISS
    does): codebook training touches O(sample) vectors collected to the
    driver, only the distributed ENCODE pass ever reads the full table.
    sample_mod=k keeps vec_id % k == 0; at web scale pick k so the sample
    is ~10^5 vectors. Determinism mirrors train_ivf_centroids: fixed
    pseudo-random init per subspace, fixed iteration count, 6-decimal
    rounding per iteration, empty clusters re-seeded to the points
    farthest from their assigned centroid (ties by sample order).

    A distributed-training variant exists in spirit via
    train_ivf_centroids per subspace, but nesting the residual expression
    into ks per-centroid scores blows the Catalyst expression tree up
    quadratically (measured: canonicalization stack overflow at
    m=8, ks=16, dim=64) — driver-side numpy on a sample is both the
    faster and the standard plan."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    sub = dim // m
    cents = coarse if coarse is not None \
        else _default_centroids(dim, N_CENTROIDS)
    vecs = df.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    if sample_mod and sample_mod > 1:
        vecs = vecs.filter(F.col("vec_id") % F.lit(sample_mod) == 0)
    rows = vecs.orderBy("vec_id").collect()  # deterministic sample order
    v = np.asarray([r["v"] for r in rows], dtype=np.float64)
    res = v - np.asarray(cents, dtype=np.float64)[_np_assign(v, cents)]

    books = []
    for s in range(m):
        x = res[:, s * sub:(s + 1) * sub]
        cb = np.asarray(_default_centroids(sub, ks), dtype=np.float64)
        for _ in range(n_iter):
            a = _np_assign(x, cb)
            new = cb.copy()
            for j in range(ks):
                mask = a == j
                if mask.any():
                    new[j] = x[mask].mean(axis=0)
            new = np.round(new, 6)
            empty = [j for j in range(ks) if not (a == j).any()]
            if empty:
                # farthest-from-assigned-centroid re-seed, deterministic
                d2 = ((x - cb[a]) ** 2).sum(axis=1)
                far = np.argsort(-d2, kind="stable")[:len(empty)]
                for j, i in zip(empty, far):
                    new[j] = np.round(x[i], 6)
            cb = new
        books.append([[float(c) for c in row] for row in cb])
    return books


class IvfPqIndex:
    """IVF-PQ: the 10^9-vector ANN layout. Vectors are stored as
    (coarse-centroid partition, m× 1-byte PQ codes of the residual, exact
    norm) — 64-d float32 (256 B) compresses to m+8 B (m=8: 16×), so a
    probe's inverted lists fit in memory/page cache at scales where raw
    vectors cannot. Queries scan only the n_probe probed partitions and
    score with ADC (asymmetric distance computation): per-subspace lookup
    tables dot(q_s, codebook[s][j]) are computed once driver-side and
    enter the plan as array literals — the scan-side score is m
    element_at's + an add chain, pure Catalyst codegen, no Python and no
    vector arithmetic per row. Optional second stage re-ranks the top
    R = k·rerank_factor ADC candidates exactly against the raw vector
    table (the classic two-stage IVF-PQ serving plan; the rerank join is
    a k·factor-row broadcast semi-join, never a shuffle of the vectors).

    The `_pq_meta.json` sidecar persists the trained coarse quantizer +
    codebooks and doubles as the build's commit marker (same discipline
    as IvfAnnIndex): no sidecar, no probes — a half-built index refuses
    rather than mis-routing."""

    def __init__(self, spark, path: str, dim: int, m: int = PQ_M,
                 ks: int = PQ_KS, n_centroids: int = N_CENTROIDS):
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
        if ks > 128:
            raise ValueError("ks > 128 does not fit the tinyint code layout")
        self.spark = spark
        self.path = path
        self.dim = dim
        self.m = m
        self.ks = ks
        self.n_centroids = n_centroids
        self.coarse: list[list[float]] | None = None
        self.codebooks: list[list[list[float]]] | None = None

    def build(self, df: DataFrame, vec_col: str = "embedding",
              id_col: str = "vec_id", train_coarse: bool = True,
              train_iter: int = 4,
              sample_mod: int | None = None,
              coarse: list[list[float]] | None = None,
              codebooks: list[list[list[float]]] | None = None
              ) -> "IvfPqIndex":
        """Train (or accept pre-trained) quantizers, encode df, overwrite
        the index, commit the sidecar. Explicit coarse=/codebooks= skip
        training — the FAISS "clone the trained quantizer" path, used by
        the append-equivalence tests and by rebuilds that must stay
        code-compatible with an existing index."""
        import json
        import os

        if coarse is not None:
            self.coarse = coarse
        else:
            self.coarse = (train_ivf_centroids(
                df, self.dim, self.n_centroids, n_iter=train_iter,
                vec_col=vec_col, id_col=id_col, sample_mod=sample_mod)
                if train_coarse
                else _default_centroids(self.dim, self.n_centroids))
        self.codebooks = codebooks if codebooks is not None \
            else train_pq_codebooks(
                df, self.dim, self.m, self.ks, n_iter=train_iter,
                vec_col=vec_col, id_col=id_col, coarse=self.coarse,
                sample_mod=sample_mod)
        self._encode_write(df, vec_col, id_col, mode="overwrite")
        tmp = os.path.join(self.path, "_pq_meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"coarse": self.coarse, "codebooks": self.codebooks,
                       "dim": self.dim, "m": self.m, "ks": self.ks}, f)
        os.replace(tmp, os.path.join(self.path, "_pq_meta.json"))
        return self

    def append(self, df: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id") -> "IvfPqIndex":
        """Encode new vectors with the index's FROZEN quantizers and
        append them in place (partitioned append, no rebuild) — the FAISS
        `add` path: codebooks never retrain on append, so appended codes
        are bit-identical to what a frozen-quantizer rebuild over the
        union would produce (pytest pins append-then-probe ≡
        rebuild-probe). Refuses without a committed sidecar, exactly like
        probes do — appending to a half-built index would orphan rows.
        The sidecar is ALWAYS re-read from disk here (never the object's
        in-memory quantizers): after a failed build() the object still
        holds trained quantizers but no commit exists — an in-memory
        shortcut would append to exactly the half-built index this
        refusal guards against, and disk is the source of truth for
        what the on-disk codes were encoded with."""
        # read + param-check into locals first: a refused append (no
        # sidecar, param mismatch) leaves the in-memory quantizers as they were
        self.coarse, self.codebooks = self._read_sidecar()
        self._encode_write(df, vec_col, id_col, mode="append")
        return self

    def _encode_write(self, df: DataFrame, vec_col: str, id_col: str,
                      mode: str) -> None:
        # encode pass: ONE Arrow-batched numpy kernel over the full table
        # (coarse argmax, residual, m per-subspace argmins, norm — all
        # matrix ops per batch, no per-row Python). A pure-Catalyst encode
        # would inline the residual into every one of the m·ks centroid
        # scores and the argmin when-chain grows quadratically — measured:
        # canonicalization stack overflow at m=8, ks=16, dim=64. This is
        # exactly the "vectorized Arrow beats expression blowup" boundary
        # the tokenizer measurement (BENCH/BASELINE.md) pinned.
        sub = self.dim // self.m
        m, coarse, books = self.m, self.coarse, self.codebooks

        def encode(batches):
            # self-contained closure (no module references): cloudpickle
            # ships it by value, so the kernel runs on executors that never
            # installed this package — same contract as functions/udfs.py
            import numpy as np
            import pyarrow as pa

            def np_assign(vecs, cmat):
                scores = vecs @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)
                return np.argmax(scores, axis=1)

            c = np.asarray(coarse, dtype=np.float64)
            cbs = [np.asarray(b, dtype=np.float64) for b in books]
            for batch in batches:
                tbl = batch.to_pydict()
                ids = tbl["vec_id"]
                v = np.asarray(tbl["v"], dtype=np.float64)
                a = np_assign(v, c)
                res = v - c[a]
                codes = np.empty((len(ids), m), dtype=np.int8)
                for s in range(m):
                    codes[:, s] = np_assign(
                        res[:, s * sub:(s + 1) * sub], cbs[s])
                norm = np.sqrt((v * v).sum(axis=1))
                yield pa.RecordBatch.from_pydict({
                    "vec_id": pa.array(ids, pa.int64()),
                    "centroid": pa.array(a.astype("int32")),
                    "codes": pa.array(list(codes), pa.list_(pa.int8())),
                    "norm": pa.array(norm),
                })

        (df.select(F.col(id_col).cast("long").alias("vec_id"),
                   F.col(vec_col).cast("array<double>").alias("v"))
           .mapInArrow(encode, "vec_id long, centroid int, "
                               "codes array<tinyint>, norm double")
           .repartition("centroid")
           .write.mode(mode).partitionBy("centroid")
           .parquet(self.path))

    def _meta(self) -> tuple[list[list[float]], list[list[list[float]]]]:
        if self.coarse is None or self.codebooks is None:
            self.coarse, self.codebooks = self._read_sidecar()
        return self.coarse, self.codebooks

    def _read_sidecar(self) -> tuple[list[list[float]],
                                     list[list[list[float]]]]:
        """The committed quantizers from disk, param-checked; raises
        without a sidecar or on a param mismatch. Never mutates self."""
        import json
        import os

        p = os.path.join(self.path, "_pq_meta.json")
        if not os.path.exists(p):
            raise ValueError(
                f"IVF-PQ index at {self.path} has no _pq_meta.json sidecar: "
                "the build did not complete. Rebuild the index.")
        with open(p) as f:
            meta = json.load(f)
        on_disk = {k: meta[k] for k in ("dim", "m", "ks")}
        mine = {"dim": self.dim, "m": self.m, "ks": self.ks}
        if on_disk != mine:
            raise ValueError(
                f"IVF-PQ index params {on_disk} != requested {mine}: codes "
                "are incomparable. Rebuild or reopen with the on-disk "
                "parameters.")
        return meta["coarse"], meta["codebooks"]

    def ann_topk(self, query_vec: list[float], k: int = 10,
                 n_probe: int = 1, exclude_id=None,
                 rerank_df: DataFrame | None = None,
                 rerank_factor: int | None = 4, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
        """ADC top-k over the probed lists; with rerank_df (the raw vector
        table) the top k·rerank_factor ADC candidates are re-scored with
        exact cosine and the top k of those returned. rerank_factor=None
        re-scores every probed candidate: with all lists probed the
        result is brute-force kNN."""
        import math

        coarse, books = self._meta()
        sub = self.dim // self.m
        probes = ivf_centroids_of(query_vec, n_probe, self.n_centroids,
                                  coarse)
        qnorm = math.sqrt(sum(x * x for x in query_vec))
        # driver-side LUTs: dot(q_s, codebook[s][j]) and dot(q, coarse_c)
        luts = [[sum(query_vec[s * sub + i] * cw[i] for i in range(sub))
                 for cw in books[s]] for s in range(self.m)]
        qc = [sum(q * c for q, c in zip(query_vec, cent)) for cent in coarse]

        scan = (self.spark.read.parquet(self.path)
                .filter(F.col("centroid").isin(probes)))
        # dot(q, v) ≈ dot(q, coarse[centroid]) + Σ_s LUT[s][codes[s]]
        adc = F.element_at(F.array(*[F.lit(float(x)) for x in qc]),
                           F.col("centroid").cast("int") + 1)
        for s in range(self.m):
            adc = adc + F.element_at(
                F.array(*[F.lit(float(x)) for x in luts[s]]),
                F.element_at(F.col("codes"), s + 1).cast("int") + 1)
        cand = scan.select(
            "vec_id", (adc / (F.col("norm") * F.lit(qnorm))).alias("cos"))
        if exclude_id is not None:
            cand = cand.filter(F.col("vec_id") != F.lit(exclude_id))
        if rerank_df is not None and rerank_factor is None:
            topr = cand
        else:
            r = k * rerank_factor if rerank_df is not None else k
            topr = (cand.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
                    .limit(r))
        if rerank_df is None:
            return topr.select("vec_id", F.round("cos", 6).alias("cos"))
        ids = topr.select(F.col("vec_id").alias("_pq_cand"))
        restricted = rerank_df.join(
            ids, F.col(id_col) == F.col("_pq_cand"), "left_semi")
        return cosine_topk(restricted, query_vec, k, vec_col, id_col,
                           exclude_id)


def _bucket_code(vec_col, dim: int, n_planes: int, plane_offset: int = 0):
    """Sign-bit bucket code over planes [plane_offset, plane_offset+n_planes)
    of the deterministic hyperplane family."""
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        bit = (_dot(vec_col, hyperplane(plane_offset + j, dim)) > 0) \
            .cast("long")
        bucket = bucket + bit * F.lit(1 << j)
    return bucket


def cosine_neardup_pairs(df: DataFrame, dim: int,
                         n_planes: int = N_HYPERPLANES,
                         threshold: float = 0.9,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         n_plane_sets: int = 1) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: candidate pairs
    come from equality on the sign-bit bucket (bucket is the join/shuffle
    key — O(Σ bucket²) instead of O(n²)), then exact cosine filters.

    n_plane_sets > 1 trades compute for recall the same way banded MinHash
    does: plane set s uses planes [s·n_planes, (s+1)·n_planes) of the same
    deterministic family, a pair is a candidate if it collides in ANY set
    (P(miss) drops from p to p^L for independent sets), and candidates are
    deduplicated BEFORE the exact-cosine verify so each pair is scored
    once. All sets ride ONE self-join keyed on (set_id, bucket) — the
    explode multiplies only (vec_id, set_id, bucket) key rows by L, never
    the vectors, so the shuffle stays narrow at scale."""
    vv = df.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    cos = (_dot_cols(F.col("va"), F.col("vb"))
           / (F.sqrt(_dot_cols(F.col("va"), F.col("va")))
              * F.sqrt(_dot_cols(F.col("vb"), F.col("vb")))))
    if n_plane_sets <= 1:
        # single set: no duplicate candidates possible, so vectors ride the
        # bucket join directly (no dedup shuffle, no re-join)
        b = lsh_buckets(df, dim, n_planes, vec_col, id_col)
        v = vv.withColumnRenamed("v", "v0").join(b, "vec_id")
        a = v.select(F.col("vec_id").alias("id_a"),
                     F.col("v0").alias("va"), "bucket")
        c = v.select(F.col("vec_id").alias("id_b"),
                     F.col("v0").alias("vb"), "bucket")
        pairs = a.join(c, "bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        keyed = (vv.select(
            "vec_id",
            F.explode(F.array(*[
                F.struct(F.lit(s).alias("set_id"),
                         _bucket_code(F.col("v"), dim, n_planes,
                                      s * n_planes).alias("bucket"))
                for s in range(n_plane_sets)])).alias("sb"))
            .select("vec_id", F.col("sb.set_id").alias("set_id"),
                    F.col("sb.bucket").alias("bucket")))
        a = keyed.select(F.col("vec_id").alias("id_a"), "set_id", "bucket")
        c = keyed.select(F.col("vec_id").alias("id_b"), "set_id", "bucket")
        cand = (a.join(c, ["set_id", "bucket"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
        pairs = (cand
                 .join(vv.select(F.col("vec_id").alias("id_a"),
                                 F.col("v").alias("va")), "id_a")
                 .join(vv.select(F.col("vec_id").alias("id_b"),
                                 F.col("v").alias("vb")), "id_b"))
    return (pairs.withColumn("cos", cos)
            .filter(F.col("cos") >= F.lit(threshold))
            .select("id_a", "id_b", F.round("cos", 6).alias("cos")))


def lsh_ann_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                 n_planes: int = N_HYPERPLANES, vec_col: str = "embedding",
                 id_col: str = "vec_id", exclude_id=None,
                 probe_radius: int = 0) -> DataFrame:
    """ANN: brute-force cosine restricted to the query's LSH bucket(s).
    probe_radius=r adds every bucket within Hamming distance r of the
    query's code (multi-probe LSH: a vector just across one hyperplane
    lands one bit away — probing those buckets recovers most of the
    single-probe recall loss at (n_planes choose r) extra buckets)."""
    dim = len(query_vec)
    probes = probe_buckets(lsh_bucket_of(query_vec, n_planes),
                           n_planes, probe_radius)
    member_ids = (lsh_buckets(df, dim, n_planes, vec_col, id_col)
                  .filter(F.col("bucket").isin(probes))
                  .select(F.col("vec_id").alias("_bucket_member")))
    in_bucket = df.join(member_ids,
                        F.col(id_col) == F.col("_bucket_member"), "left_semi")
    return cosine_topk(in_bucket, query_vec, k, vec_col, id_col, exclude_id)


def probe_buckets(bucket: int, n_planes: int, radius: int) -> list[int]:
    """The query bucket plus every code within Hamming distance `radius`."""
    out = {bucket}
    frontier = {bucket}
    for _ in range(radius):
        frontier = {b ^ (1 << j) for b in frontier for j in range(n_planes)}
        out |= frontier
    return sorted(out)


class LshAnnIndex:
    """Materialized ANN index: the embedding table written ONCE partitioned
    by LSH bucket, so a probe reads only the probed buckets' partition
    directories (partition pruning — no full scan, no per-query bucket
    recomputation). This is the scale path the ad-hoc lsh_ann_topk lacks:
    at 10^9+ vectors the bucketed layout is the index, queries touch
    |probes|/2^n_planes of the data, and more plane sets = more indexes."""

    def __init__(self, spark, path: str, dim: int,
                 n_planes: int = N_HYPERPLANES):
        self.spark = spark
        self.path = path
        self.dim = dim
        self.n_planes = n_planes

    def build(self, df: DataFrame, vec_col: str = "embedding",
              id_col: str = "vec_id") -> "LshAnnIndex":
        b = lsh_buckets(df, self.dim, self.n_planes, vec_col, id_col)
        (df.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).alias("embedding"))
           .join(b, "vec_id")
           .repartition("bucket")
           .write.mode("overwrite").partitionBy("bucket")
           .parquet(self.path))
        return self

    def ann_topk(self, query_vec: list[float], k: int = 10,
                 probe_radius: int = 1, exclude_id=None) -> DataFrame:
        probes = probe_buckets(lsh_bucket_of(query_vec, self.n_planes),
                               self.n_planes, probe_radius)
        scan = (self.spark.read.parquet(self.path)
                .filter(F.col("bucket").isin(probes)))
        return cosine_topk(scan, query_vec, k, "embedding", "vec_id",
                           exclude_id)
