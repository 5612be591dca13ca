"""Statistics service (A4/C5) — per-site and total counts + status surface.

Reference: services/StatisticsServiceImpl.getStatistics (:33-70) walks sites
issuing a count query per site and copies status/error/statusTime from each
site row (:53-57). Here the counts are one pass each over docs + postings,
and the status fields come from the build_status meta the builder maintains
(plans/build.py::IndexBuilder.write_status) — the engine indexes one input
table, so every site row carries the build's status, exactly as the
reference marks every configured site from one indexing run. `name`
mirrors SearchData.siteName; with no site registry in the input table the
host doubles as the display name. status_time is epoch millis (the
reference serializes LocalDateTime to epoch millis at :56-57).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.tableio import TableIO


def statistics(io: TableIO) -> dict:
    if io.stage_complete("site_stats"):
        # fast path: the build precomputed (site, bucket) page/lemma counts
        # (plans/build.py::_stage_site_stats) — a dashboard call reads the
        # tiny table; neither docs nor postings is scanned
        rows = (io.read("site_stats")
                .groupBy("site")
                .agg(F.sum("pages").alias("pages"),
                     F.sum("lemmas").alias("lemmas")).collect())
        pages = {r["site"]: int(r["pages"]) for r in rows}
        lemmas = {r["site"]: int(r["lemmas"]) for r in rows}
    else:
        # index without a (complete) site_stats table: derive per call
        docs = io.read("docs")
        postings = io.read("postings")
        pages = {r["site"]: r["pages"] for r in
                 docs.groupBy("site").agg(F.count("*").alias("pages")).collect()}
        # the same join-free column-pruned aggregation the build stage
        # uses (plans/build.py::_site_stats_frame); only the tiny
        # post-aggregation frame joins the site-name map
        site_names = (docs.select("site").distinct()
                      .withColumn("site_id", F.xxhash64("site")))
        lemmas = {r["site"]: r["lemmas"] for r in
                  postings.select("site_id", "term")
                  .groupBy("site_id")
                  .agg(F.count_distinct("term").alias("lemmas"))
                  .join(site_names, "site_id").collect()}

    status = io.read_meta("build_status")

    detailed = [
        {"site": s, "name": s, "pages": pages[s],
         "lemmas": int(lemmas.get(s, 0)),
         "status": status.get("status"),
         "error": status.get("error"),
         "status_time": status.get("status_time")}
        for s in sorted(pages)
    ]
    total = {
        "sites": len(pages),
        "pages": sum(pages.values()),
        "lemmas": sum(v["lemmas"] for v in detailed),
        "indexing": status.get("status") == "INDEXING",
    }
    return {"result": True, "statistics": {"total": total, "detailed": detailed}}
