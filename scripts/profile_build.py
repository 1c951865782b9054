"""Profile build_index phase walls at two parallelism levels.

Where does the non-UDF wall go at local[1] vs local[4]?  Prints a
per-level breakdown: spimi job wall vs sum(udf task secs), source
partitions per SPIMI task (from the manifests' ``task`` key), driver-
side term_stats / field_stats / meta walls, and the implied fixed cost.

Usage: python scripts/profile_build.py [cores ...]   (default: 1 4)
Env: SPARK_GRAFT_PROFILE_DOCS (default /tmp/bench_docs_r128),
     SPARK_GRAFT_PROFILE_REPS (default 1)
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(
    os.path.abspath(__file__)), ".."))

DOCS_DIR = os.environ.get("SPARK_GRAFT_PROFILE_DOCS",
                          "/tmp/bench_docs_r128")
REPS = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "1"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PARTITIONS = 8 * CPUS


def session(cores: int):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName(f"profile-{cores}")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "48g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())


def profile(cores: int) -> dict:
    from openaleph_search_spark.index.build import build_index
    spark = session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(DOCS_DIR)
    n = docs.count()
    (spark.range(10_000).repartition(cores)
     .mapInPandas(lambda it: it, "id long").count())
    out = f"/tmp/profile_idx_{cores}"
    best = None
    for _ in range(REPS):
        shutil.rmtree(out, ignore_errors=True)
        ph: dict = {}
        t0 = time.time()
        build_index(spark, docs, out, num_partitions=PARTITIONS,
                    num_shards=max(4, CPUS // 2), bigrams=True,
                    phase_log=ph)
        wall = time.time() - t0
        import collections
        import glob
        man = [json.load(open(m))
               for m in glob.glob(os.path.join(out, "manifest",
                                               "part=*.json"))]
        secs = [m["seconds"] for m in man]
        per_task = collections.Counter(m.get("task") for m in man)
        rec = {"cores": cores, "docs": n, "wall": round(wall, 2),
               "docs_per_sec": round(n / wall, 1),
               "phases": ph,
               "udf_sum": round(sum(secs), 1),
               "udf_mean": round(sum(secs) / max(len(secs), 1), 3),
               "udf_max": round(max(secs), 3) if secs else 0,
               "n_manifests": len(secs),
               "tasks": len(per_task),
               # {source partitions on a task: number of such tasks}
               "parts_per_task": dict(sorted(collections.Counter(
                   per_task.values()).items())),
               "spimi_wall_minus_udf_ideal": round(
                   ph.get("spimi_job", 0) - sum(secs) / cores, 2)}
        if best is None or rec["wall"] < best["wall"]:
            best = rec
        print(json.dumps(rec), flush=True)
    spark.stop()
    return best


def main():
    levels = [int(a) for a in sys.argv[1:]] or [1, 4]
    results = [profile(c) for c in levels]
    if len(results) >= 2:
        a, b = results[0], results[-1]
        ratio = (b["docs_per_sec"] / a["docs_per_sec"])
        eff = ratio / (b["cores"] / a["cores"])
        print(json.dumps({"efficiency": round(eff, 3),
                          "speedup": round(ratio, 2)}))


if __name__ == "__main__":
    main()
