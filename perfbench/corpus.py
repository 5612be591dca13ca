"""Seeded inputs for the benchmark: the pages corpus, a query stream and
upsert batches.

Pages come from the engine's own corpus generator
(`searchengine_spark.sources.corpus`): page i is a pure function of
(seed, i) and its url of i alone, so `gen_page(i, n, other_seed)` is a new
version of an existing url and i >= n is a new url. This module adds what
that generator lacks: a stratified query stream over the same lexicon and
the assembly of upsert batches. Everything is a pure function of the
workload seed; the engine only ever sees the generated rows and strings.
"""

from __future__ import annotations

import numpy as np

from searchengine_spark.sources.corpus import (N_SITES, PAGES_SCHEMA_COLS,
                                               gen_page, head_terms)


def pages_table(rows: list[dict]):
    """Pages rows (gen_page dicts) as an Arrow table of the input schema."""
    import pyarrow as pa

    types = {"url": pa.string(), "warc_ts": pa.timestamp("us", tz="UTC"),
             "html": pa.binary(), "text": pa.string(), "lang": pa.string()}
    return pa.table({c: pa.array([r[c] for r in rows], types[c])
                     for c in PAGES_SCHEMA_COLS})


def text_bytes(path: str) -> int:
    """UTF-8 bytes of the `text` column of a pages parquet file."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    return pc.sum(pc.binary_length(pq.read_table(path, columns=["text"])
                                   .column("text"))).as_py()


def upsert_batch(seed: int, round_no: int, n_docs: int, batch: int,
                 replace_share: float):
    """Round `round_no`'s pages: `replace_share` of them new versions of
    existing urls, the rest new urls numbered after every earlier round.
    Returns (pages table, number of new urls)."""
    rng = np.random.default_rng([seed, 0xB, round_no])
    n_rep = int(round(batch * replace_share))
    version_seed = seed + 7919 * (round_no + 1)  # != seed: new content
    rows = [gen_page(int(i), n_docs, version_seed)
            for i in rng.choice(n_docs, size=n_rep, replace=False)]
    first_new = n_docs + round_no * batch
    rows += [gen_page(i, n_docs, seed)
             for i in range(first_new, first_new + batch - n_rep)]
    return pages_table(rows), batch - n_rep


def warmup_page(seed: int):
    """One new English page (the first at or after index 10**6): the
    tokenizer reduces it to nothing, so upserting it runs the upsert path
    without rewriting any term bucket."""
    i = 10**6
    while (page := gen_page(i, i, seed))["lang"] != "en":
        i += 1
    return pages_table([page])


# --- query stream ---------------------------------------------------------

ERROR_KINDS = ("empty", "not_russian", "all_stopword", "absent_term")
N_HEAD = len(head_terms())
# lemma-rank strata a query term is drawn from (head lemmas excluded) and
# how many of every 10 query terms come from each
STRATA = ((N_HEAD, 25), (25, 100), (100, 400), (400, 2000))
STRATUM_CYCLE = (0, 0, 1, 1, 1, 2, 2, 2, 3, 3)
TERMS_CYCLE = (1, 2, 2, 3)
CYCLE = 25  # queries per cycle; the first of each is an error-path query
# ы/э/ю/я never occur in the lexicon's syllables, so these stems are valid
# Russian (they pass the charset check) yet never lemmatize
UNKNOWN = ["ыэю" + "яэ" * k for k in range(1, 9)]


def query_stream(seed: int, n: int, with_errors: bool = True,
                 site_share: float = 0.0) -> list[dict]:
    """n queries as dicts {"q", "kind", "site"}, stratified so that every
    cycle of CYCLE queries has the same mix: one error-path query (the
    kinds take turns, so errors are a fixed 4% and the median never
    straddles a ~0 ms error mode and the normal mode), 1-3 terms per query
    in fixed proportions, and terms from fixed lemma-popularity strata.
    The seed picks the words and the order within each cycle. Query words
    are surface forms the lemmatizer knows, lemmas in frequency order as
    the page generator draws them."""
    from searchengine_spark.functions.lexicon import (build_lexicon,
                                                      synthetic_lemmas)

    lemmas, lex = synthetic_lemmas(), build_lexicon()
    head = head_terms()
    rng = np.random.default_rng([seed, 0x51])
    out: list[dict] = []
    n_terms_seen = 0
    cycle_no = 0
    while len(out) < n:
        cycle = []
        for j in range(CYCLE):
            if with_errors and j == 0:
                kind = ERROR_KINDS[cycle_no % len(ERROR_KINDS)]
                q = {"empty": "",
                     "not_russian": "search engine",
                     "all_stopword": " ".join(head[:2]),
                     "absent_term": UNKNOWN[cycle_no % len(UNKNOWN)],
                     }[kind]
                cycle.append({"q": q, "kind": kind, "site": None})
                continue
            n_terms = TERMS_CYCLE[j % len(TERMS_CYCLE)]
            ids: set[int] = set()
            while len(ids) < n_terms:
                lo, hi = STRATA[STRATUM_CYCLE[n_terms_seen % len(STRATUM_CYCLE)]]
                ids.add(int(rng.integers(lo, min(hi, len(lemmas)))))
                n_terms_seen += 1
            words = []
            for i in sorted(ids):
                forms = lex.forms_by_lemma[lemmas[i]]
                words.append(forms[int(rng.integers(len(forms)))])
            site = None
            if site_share and rng.random() < site_share:
                site = f"site{int(rng.integers(N_SITES)):02d}.example"
            cycle.append({"q": " ".join(words), "kind": "ok", "site": site})
        out += [cycle[i] for i in rng.permutation(len(cycle))]
        cycle_no += 1
    return out[:n]
