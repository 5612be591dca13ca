"""WAND and driver ranking == exhaustive scoring on randomized corpora
(SURVEY.md §5 property test). The block scorer shared by the WAND tasks
and the driver path is re-implemented nowhere here — we drive the real
operators/postings.py::rank_blocks on pyarrow tables of block rows
against brute-force scoring of randomly generated posting sets, covering
multi-range, multi-shard, tied scores, k larger than the result set and
k' = 0. Three modes: WAND tasks pruning by block-max bounds (top rows
checked), WAND tasks counting (top rows and the summed match count
checked), and the driver path (the whole table as one range, with its
count). WAND runs under both block-max bounds: the tight max_tfpart and
the avgdl-free tf_bounds cap."""

import random

import pyarrow as pa
import pytest

from searchengine_spark.operators.postings import (bm25_tfpart,
                                                   encode_posting_block,
                                                   rank_blocks)

K1, B = 1.2, 0.75


def _make_blocks(postings_by_term, block_size, range_w, head_terms):
    """postings_by_term: {term: {doc_id: (tf, dl)}} -> block row dicts."""
    rows = []
    avgdl = 100.0
    for term, pl in postings_by_term.items():
        items = sorted(pl.items())
        if term in head_terms:
            shards = {}
            for d, v in items:
                shards.setdefault(d // range_w, []).append((d, v))
        else:
            shards = {0: items}
        for sh, run in shards.items():
            for bi in range(0, len(run), block_size):
                chunk = run[bi:bi + block_size]
                ds = [d for d, _ in chunk]
                ts = [v[0] for _, v in chunk]
                ls = [v[1] for _, v in chunk]
                docs_bin, tfs_bin, dls_bin = encode_posting_block(ds, ts, ls)
                rows.append({
                    "term": term, "shard": sh, "block_id": bi,
                    "n": len(ds), "doc_min": ds[0], "doc_max": ds[-1],
                    "max_tf": max(ts),
                    "max_tfpart": max(bm25_tfpart(a, b_, avgdl, K1, B)
                                      for a, b_ in zip(ts, ls)),
                    "docs_bin": docs_bin, "tfs_bin": tfs_bin,
                    "dls_bin": dls_bin,
                })
    return rows, avgdl


def _exhaustive(postings_by_term, terms, idf, avgdl):
    docs = None
    for t in terms:
        s = set(postings_by_term[t])
        docs = s if docs is None else docs & s
    scored = []
    for d in docs or ():
        s = sum(idf[t] * bm25_tfpart(postings_by_term[t][d][0],
                                     postings_by_term[t][d][1], avgdl, K1, B)
                for t in terms)
        scored.append((d, s))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored


# (seed, mode, k' override, dense, tf_bounds): the twelve sparse WAND
# cases draw each term's df at random, so most intersections are small
# or empty; dense corpora give every term at least half the docs, so the
# counts, the ties and the block-max pruning all see hundreds of matches
CASES = ([pytest.param(s, "wand", None, False, False, id=str(s))
          for s in range(12)]
         + [pytest.param(s, "wand", None, dense, True,
                         id=f"tfb-{'dense-' * dense}{s}")
            for dense in (False, True) for s in range(6)]
         + [pytest.param(s, mode, None, True, False, id=f"{mode}-{s}")
            for mode in ("wand", "count", "driver") for s in range(8)]
         + [pytest.param(s, mode, 0, True, False, id=f"{mode}-k0-{s}")
            for mode in ("wand", "count", "driver") for s in range(2)])


@pytest.mark.parametrize("seed,mode,kprime,dense,tf_bounds", CASES)
def test_wand_task_equals_exhaustive(seed, mode, kprime, dense, tf_bounds):
    rng = random.Random(seed)
    n_docs = rng.choice([50, 400, 3000])
    range_w = rng.choice([64, 256, 1000])
    block_size = rng.choice([4, 16, 128])
    n_terms = rng.randint(1, 4)
    terms = [f"t{i}" for i in range(n_terms)]
    head_terms = {t for t in terms if rng.random() < 0.5}

    postings_by_term = {}
    for t in terms:
        top_df = max(1, n_docs // rng.choice([1, 2, 10]))
        df_t = rng.randint(*((n_docs // 2, n_docs) if dense else (1, top_df)))
        docs = rng.sample(range(n_docs), min(df_t, n_docs))
        postings_by_term[t] = {
            d: (rng.randint(1, 5),
                rng.choice([50, 100, 100, 200]))  # repeated dl => score ties
            for d in docs
        }

    blocks, avgdl = _make_blocks(postings_by_term, block_size, range_w,
                                 head_terms)
    n = n_docs
    idf = {t: max(0.01, 1.0 + (n - len(postings_by_term[t])) / (1 + len(postings_by_term[t])))
           for t in terms}
    term_order = sorted(terms, key=lambda t: len(postings_by_term[t]))
    query = [{"term": t, "idf": idf[t]} for t in term_order]
    kprime = rng.choice([1, 5, 100]) if kprime is None else kprime
    scored = _exhaustive(postings_by_term, term_order, idf, avgdl)

    if mode == "driver":
        got, matches = rank_blocks(pa.Table.from_pylist(blocks), query,
                                   avgdl, K1, B, kprime, count=True)
    else:
        # emulate the driver split: blocks -> covered ranges -> task groups
        rows = [dict(r, range_id=rid) for r in blocks
                for rid in range(r["doc_min"] // range_w,
                                 r["doc_max"] // range_w + 1)]
        n_tasks = rng.choice([1, 3])
        partial, matches = [], 0
        for g in range(n_tasks):
            group = [r for r in rows if r["range_id"] % n_tasks == g]
            if group:
                top, m = rank_blocks(pa.Table.from_pylist(group), query,
                                     avgdl, K1, B, kprime, range_w=range_w,
                                     tf_bounds=tf_bounds,
                                     count=mode == "count")
                matches += m
                partial += top
        # wand_topk merges without a doc_id dedup: each doc is emitted once
        assert len({d for d, _ in partial}) == len(partial)
        got = sorted(partial, key=lambda x: (-x[1], x[0]))[:kprime]

    want = scored[:kprime]
    assert [d for d, _ in got] == [d for d, _ in want], (seed, got, want)
    for (_, sg), (_, sw) in zip(got, want):
        assert sg == pytest.approx(sw, abs=1e-9)
    if mode != "wand":
        assert matches == len(scored)


@pytest.mark.parametrize("kprime", [1, 3])
def test_wand_scans_a_range_whose_bound_ties_theta(kprime):
    """A range is skipped only when its bound is STRICTLY below the
    k'-th score. One term, and every range's best doc has the same score,
    which is also the range's bound: ranges run from the highest range_id
    down, so the k' lowest doc_ids among the tied docs are found only if
    every tied range is still scanned."""
    range_w, n_docs = 100, 600
    postings = {"t": {d: (5 if d % range_w == 7 else 1, 100)
                      for d in range(n_docs)}}
    blocks, avgdl = _make_blocks(postings, 16, range_w, {"t"})
    rows = [dict(r, range_id=r["doc_min"] // range_w) for r in blocks]
    query = [{"term": "t", "idf": 1.5}]
    got, _ = rank_blocks(pa.Table.from_pylist(rows), query, avgdl, K1, B,
                         kprime, range_w=range_w)
    want = _exhaustive(postings, ["t"], {"t": 1.5}, avgdl)[:kprime]
    assert [d for d, _ in got] == [d for d, _ in want] == [
        7 + range_w * i for i in range(kprime)]
