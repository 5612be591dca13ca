"""One-off profiler: local[N] build of the scaling corpus with per-stage
walls and Spark job census (jobs, their durations, gaps between jobs)."""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 32
N_DOCS = int(sys.argv[2]) if len(sys.argv) > 2 else 240000

from pyspark.sql import SparkSession  # noqa: E402

from bench_scaling import _warm_python_workers  # noqa: E402
from searchengine_spark.config import recommended_spark_conf  # noqa: E402
from searchengine_spark.plans.api import SearchEngine  # noqa: E402
from searchengine_spark.sources.corpus import gen_pages_spark  # noqa: E402

b = (
    SparkSession.builder.master(f"local[{CPUS}]")
    .appName("searchengine-spark-prof")
    .config("spark.sql.shuffle.partitions", str(CPUS))
    # session AQE only affects the (unprofiled) query side — builds always
    # run with AQE off (IndexBuilder.build)
    .config("spark.sql.adaptive.enabled",
            os.environ.get("SPARK_GRAFT_AQE", "true"))
    .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    .config("spark.ui.enabled", "true")
    .config("spark.ui.port", "4099")
)
for k, v in recommended_spark_conf().items():
    b = b.config(k, v)
spark = b.getOrCreate()
sc = spark.sparkContext

with tempfile.TemporaryDirectory(prefix=f"seprof{CPUS}_") as work:
    eng = SearchEngine(spark, work)
    pages_path = os.path.join(work, "pages")
    gen_pages_spark(spark, N_DOCS, partitions=CPUS * 2).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    _warm_python_workers(spark, CPUS)

    import urllib.request
    ui = sc.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    pre_jobs = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/jobs"))
    pre_max = max((j["jobId"] for j in pre_jobs), default=-1)

    t0 = time.monotonic()
    rep = eng.build_index(pages)
    wall = time.monotonic() - t0

    jobs = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"))
    from datetime import datetime, timezone

    def ts(s):
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT") \
            .replace(tzinfo=timezone.utc).timestamp()

    jobs = [j for j in jobs if j["jobId"] > pre_max]
    jobs = sorted(jobs, key=lambda j: ts(j["submissionTime"]))
    total_job = 0.0
    prev_end = None
    gap_total = 0.0
    rows = []
    for j in jobs:
        st, en = ts(j["submissionTime"]), ts(j["completionTime"])
        dur = en - st
        total_job += dur
        gap = (st - prev_end) if prev_end is not None else 0.0
        if gap > 0:
            gap_total += gap
        prev_end = max(prev_end or en, en)
        rows.append((j["jobId"], round(dur, 3), round(max(gap, 0), 3),
                     j["numTasks"], j.get("name", "")[:95]))

    print(f"\n=== build wall {wall:.2f}s  n_jobs={len(jobs)} "
          f"sum_job_dur={total_job:.2f}s  inter-job gaps={gap_total:.2f}s")
    print("stage walls (ms):",
          {s: rep[s]["wall_ms"] for s in rep if isinstance(rep[s], dict)
           and "wall_ms" in rep[s]})
    print("\njobId  dur_s  gap_before_s  tasks  name")
    for jid, dur, gap, ntasks, name in rows:
        print(f"{jid:5d}  {dur:6.3f}  {gap:6.3f}  {ntasks:5d}  {name}")
spark.stop()
