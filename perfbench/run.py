#!/usr/bin/env python3
"""searchengine_spark benchmark: index builds and batched upserts with
driver-path reads on a seeded synthetic corpus, with a correctness gate.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything runs in one process: Spark at
local[<cores>] and one closed-loop client thread (the serving path is a
single driver process behind the GIL, so more clients would measure the
GIL). The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 `metrics` holds the end-to-end metrics, measured with
tracing off; with --trace 1 it holds the per-layer metrics of a separate
traced run. perfbench/README.md lists every metric, the layer it belongs
to and the end-to-end metric it should move.

Every run starts Spark while it generates the corpus. Then:
  build   builds the pages into fresh index dirs; one build is the op.
  upsert  builds the pages once (set-up), upserts one warm-up page, then
          runs timed rounds: one upsert_docs batch (half replaced urls,
          half new ones), warm() and a burst of driver queries on the
          changed index; one upsert call is the op.

Scratch data goes to .perfbench_work/ and run records (per-run JSON,
spans of traced runs) to .perfbench_out/, both under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build", "upsert")

# pages in the corpus. The build op is larger so that per-page work, not
# the fixed cost of its Spark jobs, is most of it; an upsert costs about
# the same on either index, and the smaller one keeps set-up short
N_DOCS = {"build": 8000, "upsert": 2000}
UPSERT_BATCH = 50        # pages per upsert_docs call
REPLACE_SHARE = 0.5      # share of a batch that replaces existing urls
READS = 10               # driver queries after each upsert round
GATE_HITS = 2            # driver hits per read burst compared with exact
SERVE_QUERIES = 60       # traced run: driver queries, each traced and not
TOUR_QUERIES = 4         # WAND and exact queries in a traced run
TOUR_SITE_QUERIES = 2    # site-filtered exact queries in a traced run
LIMIT = 10
SCORE_TOL = 1e-6


# --- host counters ----------------------------------------------------------

def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_pct(a: list[int], b: list[int]) -> dict[str, float]:
    """busy% and steal% of all host cpus between two /proc/stat reads."""
    d = [y - x for x, y in zip(a, b)]
    total = sum(d) or 1
    idle = d[3] + d[4]  # idle + iowait
    return {"busy_pct": 100.0 * (total - idle) / total,
            "steal_pct": 100.0 * d[7] / total}


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


# --- Spark --------------------------------------------------------------------

def start_spark(work: str):
    """SparkSession whose scratch files, JVM temp dir and Python workers
    stay inside the work dir (the run reads and writes nothing else)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # both JVMs (spark-submit's launcher and the driver): no hsperfdata
    # files in the system temp dir, scratch files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    from pyspark.sql import SparkSession

    from searchengine_spark.config import recommended_spark_conf

    cpus = len(os.sched_getaffinity(0))
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.driver.memory", "2g")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    for k, v in recommended_spark_conf().items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it (Python worker
    daemons exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class JobCounter:
    """Exact Spark job counts: each counted call runs in a job group the
    benchmark sets itself, read back from the status tracker."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    def run(self, fn):
        """(fn(), jobs fn started)."""
        if not self.enabled:
            return fn(), 0
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return out, len(self.sc.statusTracker().getJobIdsForGroup(group))


# --- response checks ------------------------------------------------------------

def check_response(q: dict, res: dict) -> bool:
    """Shape and ordering of one search() response for a generated query.
    A "not found" answer to an ordinary query passes here; verify_reads
    then checks it against the exact strategy."""
    from searchengine_spark.plans.query import (ERR_EMPTY, ERR_NOT_FOUND,
                                                ERR_NOT_RUSSIAN)

    expected_err = {"empty": ERR_EMPTY, "not_russian": ERR_NOT_RUSSIAN,
                    "all_stopword": ERR_NOT_FOUND,
                    "absent_term": ERR_NOT_FOUND}.get(q["kind"])
    if expected_err is not None:
        return res == {"result": False, "error": expected_err}
    if not res.get("result"):
        return res.get("error") == ERR_NOT_FOUND
    data = res["data"]
    if not 1 <= len(data) <= LIMIT or res["count"] < len(data):
        return False
    keys = [(-r["score"], r["doc_id"]) for r in data]
    if keys != sorted(keys) or [r["rank"] for r in data] != list(
            range(1, len(data) + 1)):
        return False
    if q.get("site") and any(r["site"] != q["site"] for r in data):
        return False
    return all("snippet" in r for r in data)


def same_results(a: dict, b: dict, with_count: bool = True) -> bool:
    """Rank identity: same result flag, doc_ids in order, scores to 1e-6
    and (optionally) the same total count."""
    if bool(a.get("result")) != bool(b.get("result")):
        return False
    if not a.get("result"):
        return a.get("error") == b.get("error")
    if with_count and a["count"] != b["count"]:
        return False
    da, db = a["data"], b["data"]
    return ([r["doc_id"] for r in da] == [r["doc_id"] for r in db]
            and all(abs(x["score"] - y["score"]) <= SCORE_TOL
                    for x, y in zip(da, db)))


# --- the run ---------------------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.n_docs = N_DOCS[workload]
        self.traced = trace
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": int(trace)}
        self.layer: dict[str, float] = {}
        self.host: dict[str, dict] = {}
        self.tracer = None
        self.new_docs = 0  # urls added by upserts so far
        self.op_lat: list[float] = []
        self.read_lat: list[float] = []  # driver queries after upserts
        self.warm_ms: list[float] = []
        self.trace_rows: list[tuple] = []  # (request, response, ms)
        self.untraced_ms: list[float] = []
        self.query_jobs: tuple[list[int], list[int]] = ([], [])  # error, ok
        self.upsert_layer_rows: list[dict] = []

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    # --- set-up: Spark, corpus (and on upsert the index) ----------------------

    def make_corpus(self) -> tuple[str, float]:
        """Write the seeded pages as parquet; returns (path, seconds)."""
        from perfbench.corpus import text_bytes
        from searchengine_spark.sources.corpus import write_pages_parquet

        t = time.perf_counter()
        path = os.path.join(self.work, "pages.parquet")
        write_pages_parquet(path, self.n_docs, self.seed)
        self.text_bytes = text_bytes(path)
        return path, time.perf_counter() - t

    def setup(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from perfbench.corpus import query_stream

        jf0 = cpu_jiffies()
        t0 = time.perf_counter()
        # the corpus is generated while the JVM starts (a separate process)
        with ThreadPoolExecutor(1) as pool:
            corpus = pool.submit(self.make_corpus)
            self.spark = start_spark(self.work)
            t1 = time.perf_counter()
            pages_path, corpus_s = corpus.result()
        self.jobs = JobCounter(self.spark, self.traced)
        self.pages = self.spark.read.parquet(pages_path)
        t2 = time.perf_counter()
        if self.workload == "upsert":  # the index the upserts change
            self.engine, _ = self.build("index")
        t3 = time.perf_counter()
        self.host["setup"] = host_pct(jf0, cpu_jiffies())
        self.detail["setup"] = {"spark_start_s": t1 - t0, "corpus_s": corpus_s,
                                "start_s": t2 - t0, "build_s": t3 - t2}
        self.setup_s = t3 - t0

        # the driver queries and the WAND/exact tour come from the same
        # seed but never share queries
        self.queries = query_stream(self.seed, 4000)
        self.tour_pool = query_stream(self.seed + 10**6, 400,
                                      with_errors=False, site_share=0.25)
        self.next_q = 0

    def build(self, name: str):
        """(engine, ms) of one build_index of the pages into a fresh dir,
        checked; its manifests give the build's per-layer figures."""
        from searchengine_spark.plans.api import SearchEngine

        engine = SearchEngine(self.spark, os.path.join(self.work, name))

        def call():
            t = time.perf_counter()
            r = engine.build_index(self.pages)
            return r, (time.perf_counter() - t) * 1000.0

        (report, ms), jobs = self.jobs.run(call)
        self.check_build(engine, report)
        self.build_layers(report, jobs)
        index_bytes = sum(report[t]["bytes"] for t in
                          ("docs", "postings", "terms", "blocks", "site_stats"))
        self.index_ratio = index_bytes / self.text_bytes
        return engine, ms

    def check_build(self, engine, report: dict) -> None:
        from searchengine_spark.plans.build import STAGES

        complete = all(report.get(s, {}).get("status") == "complete"
                       for s in STAGES)
        self.count(complete, "build: a stage manifest is not complete")
        n_docs = engine.io.read_meta("stats").get("n_docs")
        self.count(n_docs == self.n_docs,
                   f"build: n_docs {n_docs} != {self.n_docs}")

    def build_layers(self, report: dict, jobs: int) -> None:
        """Stage times, table sizes and jobs of a build (the run's last)."""
        for stage in ("docs", "postings", "terms", "site_stats", "blocks"):
            self.layer[f"build.{stage}_ms"] = float(report[stage]["wall_ms"])
        for t in ("docs", "postings", "terms", "blocks", "site_stats"):
            self.layer[f"build.{t}_rows"] = float(report[t]["rows"])
            self.layer[f"build.{t}_bytes"] = float(report[t]["bytes"])
        self.layer["build.spark_jobs"] = float(jobs)

    # --- driver-path queries ---------------------------------------------------

    def query_loop(self, n: int) -> list[tuple[dict, dict, float]]:
        """Closed loop of n auto-routed searches; returns (query, response,
        ms) of every call. In a traced run each query runs twice in a row,
        once traced and once not, in alternating order, so the tracing
        overhead compares the same queries."""
        rows = []
        for _ in range(n):
            q = self.queries[self.next_q % len(self.queries)]
            rid = f"q{self.next_q}"
            self.next_q += 1
            modes = ((None,) if self.tracer is None
                     else (True, False) if self.next_q % 2 else (False, True))
            for traced_now in modes:
                if self.tracer is not None:
                    self.tracer.enabled, self.tracer.request = traced_now, rid
                try:
                    (res, ms), jobs = self.jobs.run(lambda: self.search(q))
                except Exception as exc:  # an op that raised counts as failed
                    self.count(False, f"search {q['q']!r}: {exc!r}")
                    continue
                rows.append((q, res, ms))
                self.count(check_response(q, res), f"search {q['q']!r}: {res}")
                if traced_now:
                    self.trace_rows.append((rid, res, ms))
                elif traced_now is False:
                    self.untraced_ms.append(ms)
                self.query_jobs[q["kind"] == "ok"].append(jobs)
        if self.tracer is not None:
            self.tracer.enabled, self.tracer.request = True, None
        return rows

    def search(self, q: dict) -> tuple[dict, float]:
        """One timed driver-path search: (response, ms)."""
        t = time.perf_counter()
        res = self.engine.search(q["q"], limit=LIMIT, strategy="auto",
                                 with_snippets=True)
        return res, (time.perf_counter() - t) * 1000.0

    def verify_reads(self, rows: list[tuple[dict, dict, float]],
                     what: str) -> None:
        """Untimed: every ordinary query the driver path answered "not
        found", and its first GATE_HITS answers with hits, must equal
        strategy="exact" (doc_ids in order, scores to 1e-6, count). So a
        driver miss on a query that exact answers counts as failed."""
        checked: set[str] = set()
        hits = 0
        for q, res, _ in rows:
            if q["kind"] != "ok" or q["q"] in checked:
                continue
            if res.get("result"):
                if hits == GATE_HITS:
                    continue
                hits += 1
            checked.add(q["q"])
            exact = self.engine.search(q["q"], limit=LIMIT, strategy="exact")
            self.count(same_results(res, exact),
                       f"{what}: driver != exact for {q['q']!r}")
        self.count(hits == GATE_HITS,
                   f"{what}: only {hits} driver hits to compare with exact")

    def warm(self) -> None:
        t = time.perf_counter()
        self.engine.warm()
        self.warm_ms.append((time.perf_counter() - t) * 1000.0)

    # --- workloads ---------------------------------------------------------------

    def run_build(self) -> None:
        """Builds of the same pages into fresh dirs until --seconds have
        passed. At --seconds 10 that is one build, the process's first: a
        batch index build runs as a fresh Spark application, so its users
        pay the cold start on every build."""
        self.docs_per_op = self.n_docs
        jf = cpu_jiffies()
        t_start = time.perf_counter()
        while not self.op_lat or time.perf_counter() - t_start < self.seconds:
            engine, ms = self.build(f"index-{len(self.op_lat)}")
            self.op_lat.append(ms)
            if hasattr(self, "engine"):
                shutil.rmtree(engine.io.work_dir)
            else:  # the first index stays for the traced tour
                self.engine = engine
        self.host["measure"] = host_pct(jf, cpu_jiffies())

    def run_upsert(self) -> None:
        """An untimed warm-up upsert, then timed rounds until --seconds have
        passed. The process's first upsert pays one-off start costs; the
        warm-up takes those on one English page, which rewrites no term
        bucket and so costs about a third of a round."""
        from perfbench.corpus import warmup_page

        self.docs_per_op = UPSERT_BATCH
        self.upsert(warmup_page(self.seed), "warm-up")
        self.new_docs += 1
        self.check_pages("warm-up")
        jf = cpu_jiffies()
        t_start = time.perf_counter()
        rnd = 1
        while rnd == 1 or time.perf_counter() - t_start < self.seconds:
            self.upsert_round(rnd, timed=True)
            rnd += 1
        self.host["measure"] = host_pct(jf, cpu_jiffies())

    def upsert_round(self, rnd: int, timed: bool) -> None:
        """One upsert_docs batch, warm(), a burst of driver queries on the
        changed index, then the gate. The upsert call is the op; the
        report and stage manifests give its per-layer figures."""
        from perfbench.corpus import upsert_batch

        tbl, n_new = upsert_batch(self.seed, rnd, self.n_docs, UPSERT_BATCH,
                                  REPLACE_SHARE)
        io = self.engine.io
        stages = ("postings", "terms", "docs", "stats", "site_stats", "blocks")
        before = {s: io.read_manifest(s) or {} for s in stages}
        (report, ms), jobs = self.upsert(tbl, f"batch-{rnd}")
        self.new_docs += n_new
        if timed:
            self.op_lat.append(ms)
        self.upsert_layers(report, before, jobs, tbl.num_rows)
        t = time.perf_counter()
        self.warm()
        rows = self.query_loop(READS)
        self.read_lat += [ms for _, _, ms in rows]
        t_gate = time.perf_counter()
        self.check_pages(f"upsert round {rnd}")
        self.verify_reads(rows, f"upsert round {rnd}")
        self.detail.setdefault("rounds", []).append({
            "upsert_s": ms / 1000.0, "warm_reads_s": t_gate - t,
            "gate_s": time.perf_counter() - t_gate})

    def upsert(self, tbl, name: str):
        """((report, ms), jobs) of one upsert_docs call on the pages in
        `tbl`."""
        import pyarrow.parquet as pq

        path = os.path.join(self.work, f"{name}.parquet")
        pq.write_table(tbl, path)
        batch = self.spark.read.parquet(path)

        def call():
            t = time.perf_counter()
            r = self.engine.upsert_docs(batch)
            return r, (time.perf_counter() - t) * 1000.0

        out = self.jobs.run(call)
        self.count(True, "upsert")
        return out

    def check_pages(self, what: str) -> None:
        stats = self.engine.statistics()["statistics"]["total"]
        want = self.n_docs + self.new_docs
        self.count(stats["pages"] == want,
                   f"{what}: statistics pages {stats['pages']} != {want}")

    def upsert_layers(self, report: dict, before: dict, jobs: int,
                      n_docs: int) -> None:
        from searchengine_spark.sources.tableio import resolve_layout

        out = {}
        rows_rw = bytes_rw = 0
        for s, old in before.items():
            new = report.get(s) or {}
            # partition-overwrite commits add their wall_ms to the stage's
            # running total (TableIO.overwrite_partitions); stats is a
            # fresh stage run
            wall = new.get("wall_ms", 0)
            if s != "stats" and wall >= old.get("wall_ms", 0):
                wall -= old.get("wall_ms", 0)
            out[f"upsert.{s}_ms"] = float(wall)
            old_paths = {f["path"] for f in old.get("files", [])}
            fresh = [f for f in new.get("files", [])
                     if f["path"] not in old_paths]
            if s == "postings":
                rows_rw = sum(f["rows"] for f in fresh)
            bytes_rw += sum(f["bytes"] for f in fresh)
        n_buckets = resolve_layout(self.engine.io, self.engine.cfg).term_buckets
        out["upsert.buckets_rewritten_frac"] = (
            len(report.get("affected_buckets", [])) / n_buckets)
        out["upsert.postings_rows_rewritten_per_doc"] = rows_rw / n_docs
        out["upsert.bytes_rewritten_per_doc"] = bytes_rw / n_docs
        out["upsert.spark_jobs"] = float(jobs)
        self.upsert_layer_rows.append(out)

    # --- traced-run extras ---------------------------------------------------------

    def tour(self) -> None:
        """Per-layer calls a workload's loop does not make: both tokenizers
        on the built docs table, WAND and exact queries, a driver-path
        query loop and (on build) one upsert round."""
        from searchengine_spark.functions.udfs import (tokens_from_docs,
                                                       tokens_from_docs_sql)

        docs = self.engine.io.read("docs")
        for name, fn in (("udfs.tokens_ms", tokens_from_docs),
                         ("udfs.tokens_sql_ms", tokens_from_docs_sql)):
            t = time.perf_counter()
            fn(docs).count()
            self.layer[name] = (time.perf_counter() - t) * 1000.0

        if self.workload == "build":  # upsert rounds end warm
            self.warm()
        self.spark_tour()
        self.trace_rows.clear()
        self.untraced_ms.clear()
        rows = self.query_loop(SERVE_QUERIES)
        self.serve_layers()
        self.verify_reads(rows, "serve loop")
        if self.workload == "build":
            self.upsert_round(1, timed=False)

    def spark_tour(self) -> None:
        from searchengine_spark.plans.wand import wand_topk

        tr, qe = self.tracer, self.engine.query_engine
        sample = [q for q in self.tour_pool if not q["site"]][:TOUR_QUERIES]
        sample += [q for q in self.tour_pool if q["site"]][:TOUR_SITE_QUERIES]
        wand_ms, exact_ms, wand_jobs, exact_jobs, site_jobs = [], [], [], [], []
        analyze, cand, topk = [], [], []
        for i, q in enumerate(sample):
            site = q["site"]
            tr.request = f"exact{i}"
            with tr.span("tour.exact"):
                t = time.perf_counter()
                ex, jobs = self.jobs.run(lambda: self.engine.search(
                    q["q"], limit=LIMIT, site=site, strategy="exact"))
                exact_ms.append((time.perf_counter() - t) * 1000.0)
            (site_jobs if site else exact_jobs).append(jobs)
            self.count(check_response(q, ex), f"exact {q['q']!r}: {ex}")
            if site:
                continue  # WAND does not filter by site (falls back to exact)
            tr.request = f"wand{i}"
            with tr.span("tour.wand"):
                t = time.perf_counter()
                wd, jobs = self.jobs.run(lambda: self.engine.search(
                    q["q"], limit=LIMIT, strategy="wand", count_mode="none"))
                wand_ms.append((time.perf_counter() - t) * 1000.0)
            wand_jobs.append(jobs)
            self.count(same_results(wd, ex, with_count=False),
                       f"wand != exact for {q['q']!r}")
            tr.request = f"direct{i}"
            t = time.perf_counter()
            terms = qe.analyze(q["q"])
            analyze.append((time.perf_counter() - t) * 1000.0)
            t = time.perf_counter()
            qe.candidates_df(terms).count()
            cand.append((time.perf_counter() - t) * 1000.0)
            t = time.perf_counter()
            wand_topk(self.spark, self.engine.io, qe.cfg, terms, k=LIMIT,
                      blocks_df=getattr(qe, "_warm", {}).get("blocks")).collect()
            topk.append((time.perf_counter() - t) * 1000.0)
        tr.request = None
        self_ms = tr.self_ms()
        search_self = {"exact": [], "wand": []}
        for s in tr.spans:
            if s.name == "query.search" and s.request:
                for kind in search_self:
                    if s.request.startswith(kind):
                        search_self[kind].append(self_ms[s.id])
        med = lambda v: statistics.median(v) if v else 0.0  # noqa: E731
        mean = lambda v: sum(v) / len(v) if v else 0.0  # noqa: E731
        self.layer.update({
            "query.analyze_ms": med(analyze),
            "query.candidates_ms": med(cand),
            "query.search_self_ms": med(search_self["exact"]),
            "wand.search_self_ms": med(search_self["wand"]),
            "wand.topk_ms": med(topk),
            "wand.query_p50_ms": med(wand_ms),
            "exact.query_p50_ms": med(exact_ms),
            "spark.jobs_per_wand_query": mean(wand_jobs),
            "spark.jobs_per_exact_query": mean(exact_jobs),
            "spark.jobs_per_site_query": mean(site_jobs),
        })

    def serve_layers(self) -> None:
        """Per-phase figures of the traced driver queries of the serve loop;
        query latency from its untraced half."""
        tr = self.tracer
        traced = {rid: (res, ms) for rid, res, ms in self.trace_rows}
        for phase, name in (("lookup_terms", "serve.lookup_terms"),
                            ("driver_topk", "serve.driver_topk"),
                            ("count", "serve.count"),
                            ("fetch_docs", "serve.fetch_docs")):
            v = [ms for rid, ms in tr.per_request(name).items() if rid in traced]
            self.layer[f"serve.{phase}_p50_ms"] = pct(v, 50) if v else 0.0
            self.layer[f"serve.{phase}_p95_ms"] = pct(v, 95) if v else 0.0
        snip = [ms for rid, ms in tr.per_request("snippet.build").items()
                if rid in traced]
        self.layer["snippet.build_p50_ms"] = pct(snip, 50) if snip else 0.0
        hits = [res for res, _ in traced.values() if res.get("result")]
        self.layer["serve.candidates_per_hit"] = (
            sum(r["count"] for r in hits) / max(1, sum(len(r["data"]) for r in hits)))
        err_jobs, ok_jobs = self.query_jobs
        self.layer["serve.spark_jobs_per_query"] = (
            sum(err_jobs + ok_jobs) / max(1, len(err_jobs + ok_jobs)))
        self.layer["serve.spark_jobs_per_ok_query"] = (
            sum(ok_jobs) / max(1, len(ok_jobs)))
        self.layer["serve.query_p50_ms"] = statistics.median(self.untraced_ms)
        self.layer["serve.query_p95_ms"] = pct(self.untraced_ms, 95)
        on = [ms for _, ms in traced.values()]
        self.layer["trace.overhead_pct"] = 100.0 * (
            statistics.median(on) / statistics.median(self.untraced_ms) - 1.0)

    # --- result ------------------------------------------------------------------

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "docs_per_s": self.docs_per_op / (statistics.median(self.op_lat) / 1000.0),
            "index_bytes_per_text_byte": self.index_ratio,
        }

    def per_layer(self) -> dict:
        self.layer["api.warm_ms"] = statistics.median(self.warm_ms)
        self.layer["upsert.read_p50_ms"] = statistics.median(self.read_lat)
        rows = self.upsert_layer_rows
        for k in rows[0]:
            self.layer[k] = statistics.median(r[k] for r in rows)
        for k in ("setup", "measure"):
            for m, v in self.host.get(k, {}).items():
                self.layer[f"host.{k}_{m}"] = v
        return self.layer

    def main(self, declared: dict[str, str]) -> dict:
        """One run; `declared` maps each metric this mode must report to
        its unit (BENCHMARK.json)."""
        os.makedirs(self.work, exist_ok=True)
        if self.traced:
            from perfbench.tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        try:
            self.setup()
            getattr(self, f"run_{self.workload}")()
            if self.traced:
                self.tour()
                metrics = self.per_layer()
            else:
                metrics = self.end_to_end()
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            if hasattr(self, "spark"):
                stop_spark(self.spark)
        self.detail["host"] = self.host
        self.detail["op_ms"] = self.op_lat
        self.detail["read_ms"] = self.read_lat
        self.detail["failures"] = self.failures
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in declared.items()},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import searchengine_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is not in {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(searchengine_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: searchengine_spark imported from outside the "
              "checkout", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"]
                for m in bench["per_layer" if args.trace else "end_to_end"]}
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = run.main(declared)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump({**run.detail, **result}, f, indent=1)
    if run.tracer is not None:
        run.tracer.dump(os.path.join(out_dir, stem + ".spans.jsonl"))
    host = run.host.get("measure", {})
    print(f"perfbench {stem}: setup {run.detail['setup']}, ops "
          f"{[round(ms) for ms in run.op_lat]} ms, host steal "
          f"{host.get('steal_pct', 0.0):.2f}% busy {host.get('busy_pct', 0.0):.1f}%"
          + (f", failures {run.failures}" if run.failures else ""))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
