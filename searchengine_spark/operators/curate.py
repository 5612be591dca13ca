"""End-to-end corpus curation funnel — the composition a training-data
pipeline actually ships: quality gate → language gate → exact dedup →
deterministic split, in ONE declarative lineage.

Each stage exists elsewhere in this package as a standalone operator
(textstats quality/lang-id, dedup keep-first, sampling hash_split); this
module is the glue that proves they compose without materialization
barriers. The signal stage is deliberately re-expressed ROW-LOCAL here
(higher-order functions over the split-token array instead of the
explode→groupBy the standalone operators use), so the whole funnel costs
exactly ONE shuffle — the 16-byte md5 grouping of the exact dedup — and
the document text never leaves its input partition.

Scale shape at 100 TB:
- signals + gates: one codegen projection over the documents scan
  (filters push down; pruned columns never load)
- dedup: groupBy on md5(text) — a fixed 32-char key, text itself is
  not shuffled; min(doc_id) keep-first is a partial-aggregatable min
- split: row-local hash against exact integer thresholds (sampling.py)
- the funnel's selectivity compounds BEFORE the shuffle, so the one
  exchange moves only surviving docs' (hash, id) pairs

Every predicate is in the Java-regex∩SQL common subset, so a DuckDB
oracle reproduces the funnel row-for-row (driver entry `curate_keep`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import split_thresholds
from .textstats import EN_STOPWORDS


def curation_signals(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id, text, n_tokens, stop_ratio, drop_doc) — the row-local
    signal projection the funnel gates on. n_tokens = whitespace tokens;
    stop_ratio = fraction that are English stopwords (the lang-id
    heuristic's feature); drop_doc = C4 document-level flags (lorem
    ipsum / code brace). Zero shuffle; one codegen stage."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda w: w.isin(EN_STOPWORDS)))
    drop = (F.contains(F.lower(F.col(text_col)), F.lit("lorem ipsum"))
            | F.contains(F.col(text_col), F.lit("{")))
    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"),
        n_tok.alias("n_tokens"),
        F.when(n_tok > 0, n_stop.cast("double") / n_tok.cast("double"))
         .otherwise(F.lit(0.0)).alias("stop_ratio"),
        drop.alias("drop_doc"),
    )


def curate_corpus(df: DataFrame, min_tokens: int = 10,
                  min_stop_ratio: float = 0.05,
                  weights: dict[str, float] | None = None,
                  salt: str = "split", text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, split) — documents that survive the full
    curation funnel, with their training-split assignment:

      1. quality gate: n_tokens >= min_tokens
      2. language gate: stop_ratio > min_stop_ratio (English-like)
      3. content gate: NOT drop_doc (no lorem-ipsum / code braces)
      4. exact dedup among survivors: keep-first (min doc_id) per
         md5(text) — dedup runs AFTER the gates so junk never pays
         for a hash shuffle
      5. split: deterministic md5-hash assignment (sampling.hash_split
         semantics, default 90/5/5) — stable across runs and engines

    The keep-first is ONE partial-aggregatable groupBy on the 32-char
    signature — no join-back: identical text implies identical n_tokens,
    so min(n_tokens) over the group IS the kept doc's value, and the
    split hash is recomputed from the surviving doc_id row-locally.
    That makes the whole funnel exactly one exchange end-to-end
    (plan-asserted in tests/test_physical_plans.py).

    The stop_ratio comparison is exact in IEEE double (one division on
    both engines), so the DuckDB oracle agrees row-for-row."""
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    surv = (curation_signals(df, text_col, id_col)
            .filter((F.col("n_tokens") >= F.lit(min_tokens))
                    & (F.col("stop_ratio") > F.lit(min_stop_ratio))
                    & ~F.col("drop_doc")))
    kept = (surv.groupBy(F.md5("text").alias("_sig"))
                .agg(F.min("doc_id").alias("doc_id"),
                     F.min("n_tokens").alias("n_tokens")))
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(":" + salt))), 1, 15), 16, 10).cast("long")
    expr = None
    for name, bound in split_thresholds(weights):
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    return kept.select("doc_id", "n_tokens", expr.alias("split"))


def _percentile_signals(df: DataFrame, stratum_col: str, text_col: str,
                        id_col: str) -> DataFrame:
    """(doc_id, _stratum, n_tokens) — NULL text counts as 0 tokens (the
    coalesce keeps ordering engine-independent: Spark windows sort NULLS
    FIRST asc while DuckDB's percent_rank defaults NULLS LAST, so a NULL
    that survived to the sort would rank opposite ways)."""
    from .textstats import ws_token_count

    return df.select(F.col(id_col).alias("doc_id"),
                     F.col(stratum_col).alias("_stratum"),
                     ws_token_count(F.col(text_col)).alias("n_tokens"))


def quality_percentile_filter(df: DataFrame, top_frac: float = 0.2,
                              stratum_col: str = "lang",
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              method: str = "auto",
                              max_sort_rows: int = 4_000_000) -> DataFrame:
    """(doc_id, n_tokens) — the top `top_frac` fraction of documents by
    token count WITHIN each stratum (per-language quality selection: an
    absolute threshold over mixed languages keeps only the verbose
    languages; ranking within the stratum does not). NULL text counts as
    0 tokens (see _percentile_signals).

    Membership is by percent_rank ≥ 1 − top_frac over a fully
    deterministic (n_tokens, doc_id) order — rank arithmetic
    (rank−1)/(n−1) is identical in any SQL engine, so the DuckDB oracle
    agrees row-for-row, ties included. Granularity corollary (by design,
    matching percent_rank in every engine): a SINGLETON stratum has
    percent_rank 0, so its only document is kept only when
    top_frac ≥ 1 — tiny strata are under-selected by up to one rank of
    granularity. Callers that want at-least-one-kept should ceil at the
    call site (e.g. union the per-stratum max back in).

    method:
      "window"     — per-stratum percent_rank sort. Exact; one shuffle
                     sorting every row of the stratum. Right while every
                     stratum fits a sort.
      "histogram"  — the 100-TB route: pre-aggregate each stratum to a
                     (n_tokens → count) histogram (one partial-aggregated
                     shuffle of histogram-sized keys), derive the kept
                     COUNT per stratum from the histogram's cumulative
                     sum with the same (rank−1)/(n−1) double comparison
                     percent_rank uses, then keep rows by broadcast-join
                     membership: values strictly inside the cut pass with
                     a row-local filter; only the single boundary VALUE's
                     rows (per stratum) go through a doc_id window to
                     resolve the tie split. Result-identical to "window"
                     (ties, NULLs, singletons included — equivalence is
                     property-tested); no full-stratum sort anywhere —
                     the only row-granular shuffle covers boundary-value
                     docs.
      "auto"       — "histogram" when the largest stratum exceeds
                     max_sort_rows (one cheap count agg), else "window".
    """
    from pyspark.sql import Window

    if not (0.0 < top_frac <= 1.0):
        raise ValueError(f"top_frac must be in (0, 1], got {top_frac}")
    sig = _percentile_signals(df, stratum_col, text_col, id_col)
    if method == "auto":
        # routing count over the RAW frame — no n_tokens projection, so
        # the decision pass never tokenizes (a stratum-key scan, not a
        # second full pass over the text)
        biggest = (df.groupBy(stratum_col).count()
                   .agg(F.max("count")).collect()[0][0]) or 0
        method = "histogram" if biggest > max_sort_rows else "window"
    if method == "window":
        w = (Window.partitionBy("_stratum")
             .orderBy(F.col("n_tokens").asc(), F.col("doc_id").asc()))
        return (sig.withColumn("_pr", F.percent_rank().over(w))
                   .filter(F.col("_pr") >= F.lit(1.0 - top_frac))
                   .select("doc_id", "n_tokens"))
    if method != "histogram":
        raise ValueError(f"unknown method {method!r}")

    # --- histogram route ---------------------------------------------------
    # Desc-rank view: doc with asc-rank r has desc-rank d = n−r+1 and
    # percent_rank (r−1)/(n−1) = (n−d)/(n−1); keep d ≤ K where K is the
    # largest d passing the SAME double-division comparison the window
    # route evaluates. K is found from a closed-form floor guess probed
    # ±2 against the exact predicate (multiply- and divide-rounding can
    # each shift the boundary by one integer independently; the
    # predicate, not the guess, decides — the otherwise(0) is reachable
    # only for the n == 1, q > 0 singleton drop, since pred(1) is
    # (n−1)/(n−1) = 1 ≥ q for every q ≤ 1).
    #
    # A NULL stratum is one group like any other (matching the window
    # route's partitionBy); joins key on (isnull flag, coalesced value)
    # because plain join equality would null-reject the whole stratum.
    # The cast makes the coalesce string-typed for any stratum type: an
    # integer stratum would otherwise coerce "" to int, which ANSI mode
    # rejects.
    q = 1.0 - top_frac
    sig = sig.withColumn("_snull", F.col("_stratum").isNull()) \
             .withColumn("_sk", F.coalesce(F.col("_stratum").cast("string"),
                                           F.lit("")))
    skey = ["_snull", "_sk"]
    hist = sig.groupBy(*skey, "n_tokens").agg(F.count("*").alias("cnt"))
    wdesc = (Window.partitionBy(*skey)
             .orderBy(F.col("n_tokens").desc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy(*skey)
    n = F.col("n")
    denom = (n - 1).cast("double")

    def _pred(d):
        # percent_rank(d) ≥ q, evaluated with the window route's exact
        # double division; n == 1 ⇒ percent_rank is defined as 0
        return F.when(n > 1, (n - d).cast("double") / denom >= F.lit(q)) \
                .otherwise(F.lit(q <= 0.0))

    guess = F.least(F.greatest(
        F.floor(n.cast("double") - F.lit(q) * (n - 1).cast("double"))
         .cast("long"), F.lit(1)), n)
    k_col = (F.when(_pred(guess + 2), guess + 2)
              .when(_pred(guess + 1), guess + 1)
              .when(_pred(guess), guess)
              .when(_pred(guess - 1), guess - 1)
              .when(_pred(guess - 2), guess - 2)
              .otherwise(F.lit(0)))
    h = (hist
         .withColumn("cum", F.sum("cnt").over(wdesc))
         .withColumn("n", F.sum("cnt").over(wall))
         .withColumn("k", F.greatest(F.lit(0), F.least(k_col, n)))
         .withColumn("cum_before", F.col("cum") - F.col("cnt")))
    # values fully inside the cut: every doc with this n_tokens passes
    full_vals = (h.filter(F.col("cum") <= F.col("k"))
                 .select(*skey, "n_tokens"))
    # the (single per stratum) boundary value: keep its t_keep largest
    # doc_ids — asc order ties break doc_id asc, so the kept tail of the
    # asc order is the doc_id-DESC head of the tied group
    boundary = (h.filter((F.col("cum_before") < F.col("k"))
                         & (F.col("k") < F.col("cum")))
                .select(*skey, "n_tokens",
                        (F.col("k") - F.col("cum_before")).alias("t_keep")))
    kept_full = sig.join(F.broadcast(full_vals), [*skey, "n_tokens"],
                         "left_semi")
    bnd = sig.join(F.broadcast(boundary), [*skey, "n_tokens"])
    wb = (Window.partitionBy(*skey, "n_tokens")
          .orderBy(F.col("doc_id").desc()))
    bnd_kept = (bnd.withColumn("_rn", F.row_number().over(wb))
                .filter(F.col("_rn") <= F.col("t_keep")))
    return (kept_full.select("doc_id", "n_tokens")
            .unionByName(bnd_kept.select("doc_id", "n_tokens")))


def curation_funnel_stats(df: DataFrame, min_tokens: int = 10,
                          min_stop_ratio: float = 0.05,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """One row of funnel telemetry — how many documents each gate removes:
    (n_input, n_after_quality, n_after_lang, n_after_content, n_kept).
    The counts are cumulative left-to-right in the gate order
    curate_corpus applies. The whole report is ONE aggregation over the
    signal projection — the dedup keep count rides it as a conditional
    count-distinct (survivor signatures only), so the telemetry costs a
    single scan and a single (partial→final) aggregate."""
    sig = curation_signals(df, text_col, id_col)
    q = F.col("n_tokens") >= F.lit(min_tokens)
    lng = F.col("stop_ratio") > F.lit(min_stop_ratio)
    c = ~F.col("drop_doc")
    return sig.agg(
        F.count("*").cast("long").alias("n_input"),
        F.sum(q.cast("long")).alias("n_after_quality"),
        F.sum((q & lng).cast("long")).alias("n_after_lang"),
        F.sum((q & lng & c).cast("long")).alias("n_after_content"),
        F.count_distinct(F.when(q & lng & c, F.md5("text")))
         .cast("long").alias("n_kept"),
    )
