"""Vectorized Spark UDF stages wrapping the pure-Python text core.

Per input_hint: all per-row logic runs inside pandas/Arrow-batched UDFs
(mapInPandas) — never row-at-a-time Python UDFs. Each stage consumes and
emits Arrow record batches; the per-document work calls the *same* functions
the oracle uses, so extracted text is byte-identical by construction.

Reference parity:
- extract stage  = E1 (LemmaSearch.clearCodeFromTags, LemmaSearch.java:68-70)
                 + E7 title at index time (vs the reference's query-time
                   re-fetch, SearchServiceImpl.java:82-94 — corrected)
- tokens stage   = E2+E3+E4+E5 fused with A1 per-page tf
                   (LemmaSearch.splitToLemmas, LemmaSearch.java:33-56):
                   emitting pre-aggregated (doc_id, term, tf, dl) rows is the
                   map-side combine — no (doc_id, term)-level shuffle needed.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

from .lexicon import lexicon_dict
from .text_core import extract_text, extract_title, split_to_lemmas

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("site", StringType(), False),
    StructField("title", StringType(), True),
    StructField("text", StringType(), False),
])

EXTRACT_SCHEMA_WITH_ID = StructType(
    [StructField("doc_id", LongType(), False)] + EXTRACT_SCHEMA.fields)

TOKENS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("term", StringType(), False),
    StructField("tf", IntegerType(), False),
    StructField("dl", IntegerType(), False),
])

# when the input docs carry a `site` column, postings additionally carry
# site_id = xxhash64(site) — 8 bytes/row vs the ~40%-of-shuffle host
# STRING the original design rejected — so per-site aggregations
# (site_stats) are joins-free scans instead of a postings⋈docs shuffle
TOKENS_SCHEMA_SITED = StructType(
    TOKENS_SCHEMA.fields + [StructField("site_id", LongType(), False)])


def _site_of(url: str) -> str:
    rest = url.split("://", 1)[-1]
    return rest.split("/", 1)[0]


def extract_docs(pages: DataFrame) -> DataFrame:
    """pages(url, html, [doc_id], ...) -> ([doc_id], url, site, title, text).

    Column-pruned: only url+html (+doc_id when present) are read from the
    scan; the heavy `html` BINARY column never survives past this stage.
    A pre-assigned doc_id column rides through so the build can assign ids
    from raw urls BEFORE extraction (ids are a function of the url set only)
    and run this UDF exactly once.
    """
    with_id = "doc_id" in pages.columns

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for rb in batches:
            urls = rb.column(rb.schema.get_field_index("url")).to_pylist()
            htmls = rb.column(rb.schema.get_field_index("html")).to_pylist()
            texts, titles, sites = [], [], []
            for html in htmls:
                if isinstance(html, (bytes, bytearray)):
                    html = bytes(html).decode("utf-8", errors="replace")
                texts.append(extract_text(html))
                titles.append(extract_title(html))
            sites = [_site_of(u) for u in urls]
            cols = [pa.array(urls, pa.string()), pa.array(sites, pa.string()),
                    pa.array(titles, pa.string()), pa.array(texts, pa.string())]
            names = ["url", "site", "title", "text"]
            if with_id:
                ids = rb.column(rb.schema.get_field_index("doc_id"))
                cols, names = [ids, *cols], ["doc_id", *names]
            yield pa.RecordBatch.from_arrays(cols, names)

    if with_id:
        return pages.select("doc_id", "url", "html").mapInArrow(
            fn, schema=EXTRACT_SCHEMA_WITH_ID)
    return pages.select("url", "html").mapInArrow(fn, schema=EXTRACT_SCHEMA)


def tokens_from_docs(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text[, site]) -> (doc_id, term, tf, dl[, site_id]).

    tf is aggregated inside the batch (per-document Counter) so the shuffle
    that follows (term repartition / groupBy) moves one row per (doc, term),
    never one row per token occurrence. dl (=Σtf) rides along to make BM25
    scoring a pure column expression downstream — no docs join at query
    time. Deliberately NO site STRING column: a repeated host string
    through the doc→term shuffle is ~40% of the shuffle bytes at web scale;
    the site-filtered query path (J4) semi-joins candidates against docs
    instead (plans/query.py). When the input has `site`, an 8-byte
    site_id = xxhash64(site) (computed Spark-side, so the SQL twin is
    bit-identical) rides the post-aggregation rows instead: it makes the
    per-site build aggregation (site_stats) a column-pruned scan with NO
    postings⋈docs join — one extra int64 on one existing shuffle vs a
    second full postings-sized shuffle."""
    sited = "site" in docs.columns
    if sited:
        docs = docs.withColumn("site_id", F.xxhash64("site"))

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        lex = lexicon_dict()  # built once per worker, cached at module level
        for rb in batches:
            doc_id_a = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
            text_a = rb.column(rb.schema.get_field_index("text")).to_pylist()
            site_a = (rb.column(rb.schema.get_field_index("site_id"))
                      .to_pylist() if sited else None)
            doc_ids, terms, tfs, dls, sids = [], [], [], [], []
            for i, (doc_id, text) in enumerate(zip(doc_id_a, text_a)):
                counts = split_to_lemmas(text, lex)
                dl = sum(counts.values())
                for term, tf in counts.items():
                    doc_ids.append(doc_id)
                    terms.append(term)
                    tfs.append(tf)
                    dls.append(dl)
                    if sited:
                        sids.append(site_a[i])
            cols = [pa.array(doc_ids, pa.int64()),
                    pa.array(terms, pa.string()), pa.array(tfs, pa.int32()),
                    pa.array(dls, pa.int32())]
            names = ["doc_id", "term", "tf", "dl"]
            if sited:
                cols.append(pa.array(sids, pa.int64()))
                names.append("site_id")
            yield pa.RecordBatch.from_arrays(cols, names)

    if sited:
        return docs.select("doc_id", "text", "site_id").mapInArrow(
            fn, schema=TOKENS_SCHEMA_SITED)
    return docs.select("doc_id", "text").mapInArrow(fn, schema=TOKENS_SCHEMA)


def lexicon_df(spark) -> DataFrame:
    """The in-repo lemmatization dictionary as a (surface, lemma) frame,
    function words (МЕЖД/ПРЕДЛ/СОЮЗ, LemmaSearch.java:22) pre-dropped so a
    single inner join implements both E3 (lemmatize, unknown => skip) and
    E4 (function-word filter). ~10k rows / ~200 KB — broadcast-side."""
    from .lexicon import FUNCTION_POS, lexicon_dict

    rows = [(s, e[0]) for s, e in lexicon_dict().items()
            if e[1] not in FUNCTION_POS]
    return spark.createDataFrame(rows, "surface string, lemma string")


def tokens_from_docs_sql(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text[, site]) -> (doc_id, term, tf, dl[, site_id]):
    the all-Catalyst twin of tokens_from_docs — zero Python in the hot
    path. No engine path calls it: the build and the upsert both use
    tokens_from_docs, measured 2–4.5× faster (the token-level explode is
    shuffled and aggregated where the Arrow pass pre-combines per
    document; BENCH/BASELINE.md). It stays as the relational form of the
    tokenizer behind the driver contract's q_ru_lemma_df. site_id (when
    `site` is present) is the same Spark-side xxhash64, so the twins stay
    row-identical; here it rides the one doc_id exchange at token grain.

    Tokenization is the reference regex (LemmaSearch.java:35-36) as native
    expressions: lower -> regexp_replace('[^а-я\\s]','') -> trim -> split
    on \\s+ -> explode. Lemmatization+function-word filtering is an inner
    BROADCAST JOIN against lexicon_df (replacing the per-token Python dict
    lookup — the memory-bandwidth hog of the build at high parallelism).
    tf is a hash aggregate; dl rides along via a window sum so downstream
    stays join-free, exactly like the Python path.

    Equivalence caveat (tested, test_spark_build): identical to
    tokens_from_docs for any text whose whitespace is ASCII — always true
    for extract_docs output, which collapses all Unicode whitespace to
    ' ' (Java \\s is ASCII-only; Python \\s is not)."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    lex = F.broadcast(lexicon_df(spark))
    sited = "site" in docs.columns
    sel = ["doc_id"]
    group = ["doc_id"]
    if sited:
        docs = docs.withColumn("site_id", F.xxhash64("site"))
        sel.append("site_id")
        # site_id is functionally dependent on doc_id, so adding it to the
        # grouping keys changes no group; HashPartitioning(doc_id) still
        # satisfies the clustering (subset rule) — no extra exchange
        group.append("site_id")
    toks = (docs
            .select(*sel,
                    F.explode(F.split(
                        F.trim(F.regexp_replace(F.lower(F.col("text")),
                                                "[^а-я\\s]", "")),
                        "\\s+")).alias("surface"))
            .filter(F.col("surface") != "")
            # ONE exchange for the whole stage: hash by doc_id satisfies
            # both the (doc_id, lemma) aggregation's clustering and the dl
            # window's partitioning, so neither adds its own shuffle
            .repartition("doc_id"))
    tf = (toks.join(lex, "surface")
              .groupBy(*group, "lemma")
              .agg(F.count("*").cast("int").alias("tf")))
    dl = F.sum("tf").over(Window.partitionBy("doc_id")).cast("int")
    out = ["doc_id", F.col("lemma").alias("term"), "tf", dl.alias("dl")]
    if sited:
        out.append("site_id")
    return tf.select(*out)


def url_bucket_col(url_col, n_buckets: int):
    """Deterministic md5-based bucket, matching oracle.url_bucket exactly:
    int(md5(url)[:8], 16) % n_buckets — pure Catalyst expressions."""
    return (F.conv(F.substring(F.md5(url_col), 1, 8), 16, 10).cast("long")
            % F.lit(n_buckets)).cast("int")
