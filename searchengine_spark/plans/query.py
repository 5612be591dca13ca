"""Query plan — multi-term AND + BM25 top-k over the postings layout.

Reference lifecycle replaced (SURVEY.md §3.1): the reference issues one SQL
round-trip per lemma, per (lemma,page) pair, and re-fetches pages over HTTP
for titles (services/SearchServiceImpl.java:96-131). Here every query runs
the same five steps, each written once:

  resolve:  lemmatize -> dictionary lookup of the lemmas in `terms` (a
            manifest-pinned pyarrow read, serve.lookup_terms; no Spark
            job) -> stopword prune df/N>0.95 -> rarest-first
  route:    exact for a site filter / reference relevance; otherwise the
            requested strategy, or under "auto" driver vs WAND by max df
  score:    a page of (doc_id, score) rows plus the match count, from
            exact   postings scan pinned to the files holding the query
                    terms' term_buckets (file pruning through the manifest)
                    ⋈ broadcast(query terms + idf)     [J1, broadcast hash join]
                    -> per-posting BM25 term score      [pure column expr]
                    -> groupBy(doc_id): nt=count, score=sum [J3+A6, one agg]
                    -> filter nt == |Q|                 [AND semantics]
                    -> optional site filter             [J4]
                    -> count; orderBy(score desc, doc_id asc)
                       offset limit                     [O3+O4]
            wand    block-max WAND over the posting blocks (plans/wand.py):
                    top-k and count from one Spark job
            driver  one-process intersection over the blocks files
                    (plans/serve.py): top-k and count from one decode
            (wand and driver rank blocks with one function,
            operators/postings.py::rank_blocks)
  fetch:    the page's docs rows, a manifest-pinned pyarrow read by doc_id
            (serve.fetch_docs; `text` only when snippets are asked for)
  assemble: ranks, titles and snippets on the k rows; an empty page is
            result=True with no rows when the query matches, else "not found"

The exact path is also the correctness yardstick for the WAND and driver
paths: all three must return identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.text_core import is_query_valid, split_to_lemmas
from ..operators.postings import bm25_tfpart_col
from ..oracle import build_snippet
from ..sources.tableio import TableIO
from . import serve, wand
from .build import term_bucket

ERR_EMPTY = "Задан пустой поисковый запрос"
ERR_NOT_RUSSIAN = "Запрос должен быть на русском языке"
ERR_NOT_FOUND = "Указанная страница не найдена"


class QueryEngine:
    def __init__(self, spark, io: TableIO, cfg: EngineConfig | None = None):
        from ..sources.tableio import resolve_layout

        self.spark = spark
        self.io = io
        # layout params (term_buckets, shard width, block size) come from
        # the index's own manifests, NOT live config — an index built under
        # a different cfg must stay readable (cfg is the fresh-build default)
        self.cfg = resolve_layout(io, cfg or EngineConfig())
        self.stats = io.read_meta("stats")
        self._warm: dict[str, object] = {}

    # --- serving mode ----------------------------------------------------

    def warm(self) -> list[str]:
        """Pin the tables a Spark query path reads in executor memory
        (serving mode — the cluster analog of a resident index: postings
        for exact, blocks for WAND, docs for the site filter stay cached
        across queries; MEMORY_AND_DISK so oversized indexes spill
        instead of failing). Returns the list of tables actually pinned;
        an absent table (e.g. blocks not built) is skipped, but a corrupt
        or partially-written one raises — serving must not silently degrade
        to cold per-query reads."""
        from pyspark import StorageLevel

        self._assert_no_pending_delta()
        pinned: list[str] = []
        for t in ("postings", "blocks", "docs"):
            if not self.io.exists(t):
                continue  # the one expected absence: table never built
            if not self.io.stage_complete(t):
                raise RuntimeError(
                    f"table '{t}' exists but its stage is not complete "
                    "(aborted/interrupted build) — refusing to serve it; "
                    "resume the build first")
            df = self.io.read(t).persist(StorageLevel.MEMORY_AND_DISK)
            df.count()  # materialize now, not on first query
            self._warm[t] = df
            pinned.append(t)
        return pinned

    def release(self) -> None:
        """Unpersist the frames warm() pinned. An engine is bound to the
        snapshot it was built on; whoever replaces it (a build or an
        upsert makes a new snapshot) calls this, or every warm() of a
        later engine pins another copy of the tables."""
        for df in self._warm.values():
            df.unpersist()
        self._warm.clear()

    def _table(self, name: str, buckets=None):
        """The warm frame of a table, or a read pinned to the files
        holding `buckets`; callers keep the row filter they need."""
        return self._warm.get(name) or self.io.read(name, buckets)

    def _assert_no_pending_delta(self) -> None:
        """An interrupted upsert/remove leaves tables at a MIX of pre- and
        post-delta snapshots (each table commit is atomic, the multi-table
        apply is not) with a durable pending marker. Per-stage manifests
        are all 'complete' in that state, so the stage gates can't catch
        it — refuse to serve until resume_upsert() replays the delta."""
        from ..streaming.incremental import has_pending_delta

        if has_pending_delta(self.io):
            raise RuntimeError(
                "an upsert/remove was interrupted mid-apply (pending delta "
                "staged under _delta/) — tables may be a mixed snapshot; "
                "call SearchEngine.resume_upsert() before serving")

    # --- query analysis (driver-side; tiny data) ------------------------

    def analyze(self, query: str) -> list[dict]:
        """Lemmatize, keep indexed terms, prune stopwords, rarest-first
        (getLemmaList, SearchServiceImpl.java:153-168; ties by term asc):
        [{term, df, idf}] from a pinned pyarrow dictionary read, no Spark
        job."""
        lemmas = list(split_to_lemmas(query))
        if not lemmas:
            return []
        return serve.lookup_terms(self.io, self.cfg, lemmas,
                                  self.stats["n_docs"])

    # --- scoring ---------------------------------------------------------

    def candidates_df(self, terms: list[dict], site: str | None = None,
                      relevance_mode: str = "bm25") -> DataFrame:
        """(doc_id, score) for docs containing ALL query terms."""
        cfg = self.cfg
        avgdl = float(self.stats["avgdl"]) or 1.0
        buckets = sorted({term_bucket(t["term"], cfg.term_buckets)
                          for t in terms})
        qt = self.spark.createDataFrame(
            [(t["term"], t["idf"]) for t in terms], "term string, idf double")

        q = (self._table("postings", buckets)
             .filter(F.col("term").isin([t["term"] for t in terms]))
             .join(F.broadcast(qt), "term"))
        if relevance_mode == "bm25":
            score = F.col("idf") * bm25_tfpart_col(
                F.col("tf"), F.col("dl"), avgdl, cfg.bm25_k1, cfg.bm25_b)
        else:  # reference Σtf mode (normalized later)
            score = F.col("tf").cast("double")
        agg = (q.withColumn("s", score)
                .groupBy("doc_id")
                .agg(F.count("*").alias("nt"), F.sum("s").alias("score"))
                .filter(F.col("nt") == F.lit(len(terms))))
        if site is not None:
            # J4: postings deliberately carry no site column (shuffle-width
            # trade-off, udfs.tokens_from_docs) — semi-join candidates
            # against the (cached, column-pruned) docs table instead
            site_docs = (self._table("docs")
                         .filter(F.col("site") == F.lit(site))
                         .select("doc_id"))
            agg = agg.join(site_docs, "doc_id", "left_semi")
        return agg.select("doc_id", "score")

    # --- public search ----------------------------------------------------

    def search(self, query: str, limit: int | None = None, offset: int = 0,
               site: str | None = None, relevance_mode: str = "bm25",
               with_snippets: bool = True, strategy: str = "exact",
               count_mode: str = "exact") -> dict:
        """Full response, shape-identical to oracle.search.

        strategy="exact":  one-shuffle hash-agg path (always available).
        strategy="wand":   block-max WAND over compressed posting blocks
                           (plans/wand.py) — bm25 mode, no site filter
                           (site-filtered queries fall back to exact).
        strategy="driver": serve the query straight from the columnar index
                           files with pyarrow — NO Spark job; millisecond
                           path for interactive serving (plans/serve.py).
                           bm25, no site filter; falls back to exact.
        strategy="auto":   route by the query's posting volume: driver
                           while every term's df fits one process
                           (cfg.driver_df_limit), WAND above it, exact for
                           site filters / reference relevance mode.
        count_mode="exact": WAND's tasks count the matches in the page's
        own job, scoring every range; count_mode="none" keeps WAND's
        block-max pruning and reports the page size as the count. The
        exact and driver paths hold the count anyway."""
        self._assert_no_pending_delta()
        limit = limit if limit is not None else self.cfg.default_limit
        if not query:
            return {"result": False, "error": ERR_EMPTY}
        if not is_query_valid(query):
            return {"result": False, "error": ERR_NOT_RUSSIAN}
        terms = self.analyze(query)
        if not terms:
            return {"result": False, "error": ERR_NOT_FOUND}

        strategy = self._pick_strategy(terms, site, relevance_mode, strategy)
        if strategy == "driver":
            page, count = serve.driver_topk(self.io, self.cfg, terms,
                                            k=limit, offset=offset)
        elif strategy == "wand":
            page, count = self._wand_page(terms, limit, offset, count_mode)
        else:
            page, count = self._exact_page(terms, limit, offset, site,
                                           relevance_mode)
        # offset past the last hit of a matching query is result=True +
        # empty data; only an empty candidate set is "not found"
        if count == 0:
            return {"result": False, "error": ERR_NOT_FOUND}

        columns = ("doc_id", "url", "site", "title") + (
            ("text",) if with_snippets else ())
        docs = serve.fetch_docs(self.io, [d for d, _ in page], columns)
        qlemmas = [t["term"] for t in terms]
        data = []
        for rank, (d, s) in enumerate(page, start=offset + 1):
            doc = docs[d]
            row = {"rank": rank, "doc_id": d, "site": doc["site"],
                   "site_name": doc["site"],  # W4 siteName (host doubles as name)
                   "uri": doc["url"], "title": doc["title"],
                   "score": float(s)}
            if with_snippets:
                # snippet over k rows only; same code path as the oracle
                row["snippet"] = build_snippet(doc["text"], list(qlemmas))
            data.append(row)
        return {"result": True, "count": count, "data": data}

    def _pick_strategy(self, terms: list[dict], site: str | None,
                       relevance_mode: str, strategy: str) -> str:
        """The strategy that runs: exact whenever the fast paths don't
        apply (site filter, reference relevance); under "auto", driver
        (one-process columnar read) while every query term's posting list
        is small, distributed WAND above, exact with no blocks stage."""
        if site is not None or relevance_mode != "bm25":
            return "exact"
        if strategy == "auto":
            # gate on stage_complete, not directory existence: after a
            # stopped/failed build the blocks dir holds a partially written
            # stage (aborted manifest) and the fast paths would silently
            # serve incomplete results where exact is safe
            if not self.io.stage_complete("blocks"):
                return "exact"
            mx = max(t["df"] for t in terms)
            return "driver" if mx <= self.cfg.driver_df_limit else "wand"
        return strategy if strategy in ("driver", "wand") else "exact"

    def _exact_page(self, terms: list[dict], limit: int, offset: int,
                    site: str | None, relevance_mode: str
                    ) -> tuple[list[tuple[int, float]], int]:
        """(page, count) of the exact path: count the candidates, then
        rank and slice them in Spark."""
        cand = self.candidates_df(terms, site, relevance_mode).cache()
        try:
            count = cand.count()
            if count == 0:
                return [], 0
            ranked = cand
            if relevance_mode == "reference":
                # Σtf / max normalization (SearchServiceImpl.java:96-115)
                mx = cand.agg(F.max("score")).collect()[0][0]
                ranked = cand.withColumn("score", F.col("score") / F.lit(mx))
            rows = (ranked
                    .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                    .offset(offset).limit(limit).collect())
            return [(r["doc_id"], r["score"]) for r in rows], count
        finally:
            cand.unpersist()

    def _wand_page(self, terms: list[dict], limit: int, offset: int,
                   count_mode: str) -> tuple[list[tuple[int, float]], int]:
        """(page, count) of the WAND path. Under count_mode="exact" the
        tasks count their matches in the page's own job (wand_topk's
        `matches`); under "none" they prune and the count is the page
        size. WAND at offset 0 returns hits iff candidates exist, so only
        an empty page past offset 0 reruns counting: it tells "offset past
        the end" from "not found". A limit-0 page is always empty, so it
        counts under either mode."""
        def run(count: bool):
            obs = Observation() if count else None
            # k ≥ 1: under limit(0) Spark runs no job to observe
            rows = wand.wand_topk(self.spark, self.io, self.cfg, terms,
                                  k=max(limit, 1), offset=offset,
                                  blocks_df=self._warm.get("blocks"),
                                  matches=obs).collect()
            page = [(r["doc_id"], r["score"]) for r in rows[:limit]]
            return page, obs.get["matches"] if count else len(page)

        counting = count_mode == "exact" or not limit
        page, count = run(counting)
        if not counting and not page and offset:
            page, count = run(True)
        return page, count
