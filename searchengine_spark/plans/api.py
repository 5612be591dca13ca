"""Public engine facade — the Spark-native equivalents of the reference's
five REST endpoints (controllers/ApiController.java:28-52):

  C1 startIndexing  -> SearchEngine.build_index(pages_df) (sync) or
                       start_indexing(pages_df) (async; refuses if running,
                       IndexingServiceImpl.getStartResponse :42-51)
  C2 stopIndexing   -> stop_indexing(): cancel the build's Spark job group,
                       mark in-flight stage aborted + status FAILED
                       "Индексация остановлена пользователем"
                       (IndexingServiceImpl.getStopResponse :53-78);
                       build_index(resume=True) restarts from the last
                       completed stage
  C3 indexPage      -> SearchEngine.upsert_docs(changed_pages_df)
  C4 search         -> SearchEngine.search(query, limit, offset, site)
  C5 statistics     -> SearchEngine.statistics()
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..sources.tableio import TableIO
from .build import IndexBuilder
from .query import QueryEngine
from .statistics import statistics as _statistics

ERR_ALREADY_RUNNING = "Индексация уже запущена"
ERR_NOT_RUNNING = "Индексация не запущена"
STOP_MESSAGE = "Индексация остановлена пользователем"


class SearchEngine:
    _JOB_GROUP = "searchengine-build"

    def __init__(self, spark: SparkSession, work_dir: str,
                 cfg: EngineConfig | None = None):
        from ..sources.deploy import ship_package

        ship_package(spark)  # --py-files equivalent for driver-launched runs
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.io = TableIO(spark, work_dir)
        self._query_engine: QueryEngine | None = None
        self._build_thread: threading.Thread | None = None
        self._build_error: BaseException | None = None
        self._stop_event: threading.Event | None = None

    # --- build (C1) ------------------------------------------------------

    def build_index(self, pages: DataFrame, resume: bool = False) -> dict:
        report = IndexBuilder(self.spark, self.io, self.cfg).build(pages, resume=resume)
        self._drop_query_engine()  # stats changed; rebuild lazily
        return report

    def _drop_query_engine(self) -> None:
        """Forget the query engine after the index changed (a new one is
        built lazily on the next query), unpersisting the tables its
        warm() pinned — they cache the old snapshot."""
        qe, self._query_engine = self._query_engine, None
        if qe is not None:
            qe.release()

    def is_indexing(self) -> bool:
        return self._build_thread is not None and self._build_thread.is_alive()

    def start_indexing(self, pages: DataFrame, resume: bool = False) -> dict:
        """Async C1: launch the build under a cancellable Spark job group.
        Requires pinned-thread mode (PySpark default) so the job group is
        scoped to the build thread only."""
        if self.is_indexing():
            return {"result": False, "error": ERR_ALREADY_RUNNING}
        self._build_error = None
        self._stop_event = threading.Event()
        builder = IndexBuilder(self.spark, self.io, self.cfg,
                               stop_event=self._stop_event)

        def run():
            sc = self.spark.sparkContext
            sc.setJobGroup(self._JOB_GROUP, "index build",
                           interruptOnCancel=True)
            try:
                builder.build(pages, resume=resume)
                self._drop_query_engine()  # stats changed; rebuild lazily
            except BaseException as exc:
                self._build_error = exc

        from pyspark import InheritableThread

        self._build_thread = InheritableThread(target=run, daemon=True)
        self._build_thread.start()
        return {"result": True}

    # --- stop (C2) --------------------------------------------------------

    def stop_indexing(self, timeout: float = 120.0) -> dict:
        """Cancel the running build. The interrupted stage's manifest is
        marked aborted (IndexBuilder.build's except path) and build_status
        becomes FAILED with the user-stop message; completed stages keep
        their manifests, so build_index(resume=True) continues from the
        checkpoint."""
        if not self.is_indexing():
            return {"result": False, "error": ERR_NOT_RUNNING}
        self._stop_event.set()  # stops between stages (no job to cancel)
        self.spark.sparkContext.cancelJobGroup(self._JOB_GROUP)
        self._build_thread.join(timeout=timeout)
        if self._build_thread.is_alive():
            return {"result": False, "error": "stop timed out"}
        if self._build_error is None:
            # the build finished before the cancellation landed — status is
            # INDEXED and correct; report the reference's not-running error
            return {"result": False, "error": ERR_NOT_RUNNING}
        # overwrite the builder's generic FAILED error with the reference's
        # user-stop message (IndexingServiceImpl.java:69-75)
        builder = IndexBuilder(self.spark, self.io, self.cfg)
        status = self.io.read_meta("build_status")
        builder.write_status("FAILED", stage=status.get("stage"),
                             error=STOP_MESSAGE)
        return {"result": True}

    # --- query (C4) ------------------------------------------------------

    @property
    def query_engine(self) -> QueryEngine:
        if self._query_engine is None:
            self._query_engine = QueryEngine(self.spark, self.io, self.cfg)
        return self._query_engine

    def warm(self) -> "SearchEngine":
        """Serving mode: pin query-side tables in executor memory."""
        self.query_engine.warm()
        return self

    def search(self, query: str, limit: int | None = None, offset: int = 0,
               site: str | None = None, relevance_mode: str = "bm25",
               with_snippets: bool = True, strategy: str = "exact",
               count_mode: str = "exact") -> dict:
        return self.query_engine.search(query, limit=limit, offset=offset,
                                        site=site, relevance_mode=relevance_mode,
                                        with_snippets=with_snippets,
                                        strategy=strategy, count_mode=count_mode)

    # --- statistics (C5) --------------------------------------------------

    def statistics(self) -> dict:
        return _statistics(self.io)

    # --- incremental maintenance (C3/S7/S8) -------------------------------

    def upsert_docs(self, changed_pages: DataFrame) -> dict:
        from ..streaming.incremental import upsert_docs
        report = upsert_docs(self.spark, self.io, self.cfg, changed_pages)
        self._drop_query_engine()
        return report

    def remove_site(self, site: str) -> dict:
        from ..streaming.incremental import remove_docs
        report = remove_docs(self.spark, self.io, self.cfg, site=site)
        self._drop_query_engine()
        return report

    def remove_page(self, url: str) -> dict:
        from ..streaming.incremental import remove_docs
        report = remove_docs(self.spark, self.io, self.cfg, url=url)
        self._drop_query_engine()
        return report

    def refresh_blocks(self) -> dict:
        """Blocks-only maintenance rebuild: restore tight block-max bounds
        (and head-term sharding) after incremental deltas marked the blocks
        manifest's avgdl stale — one postings scan, no docs/postings
        rewrite, crash-safe file-replacement commit. The Iceberg analog
        is a metadata-refreshing table OPTIMIZE."""
        from ..sources.tableio import resolve_layout

        cfg = resolve_layout(self.io, self.cfg)
        report = IndexBuilder(self.spark, self.io, cfg).refresh_blocks()
        self._drop_query_engine()  # block bounds changed; rebuild lazily
        return report.to_json()

    def resume_upsert(self) -> dict | None:
        """Replay an interrupted upsert/remove from its durable _delta/
        staging (the C3 analog of build_index(resume=True)); None when
        nothing is pending."""
        from ..streaming.incremental import resume_delta
        report = resume_delta(self.spark, self.io, self.cfg)
        self._drop_query_engine()
        return report
