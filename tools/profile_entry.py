"""Per-entry fixed-cost profiler (guide §1): for each named bench entry,
time (a) DataFrame construction (Python + analysis), (b) the noop-sink
action, and count Spark jobs + stages + tasks launched during each, via
a StatusTracker snapshot.  Two passes after one warmup; prints one JSON
line per entry.

Usage: python tools/profile_entry.py <query> [query ...]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def snap(sc):
    t = sc.statusTracker()
    return len(t.getJobIdsForGroup(None) or [])


def main() -> None:
    import bench
    import __spark_entry__ as entry_mod

    spark = bench._session()
    sc = spark.sparkContext
    qs = entry_mod.queries()
    for name in sys.argv[1:]:
        bench._run_once(spark, qs, name)  # warmup
        for i in range(2):
            j0 = sc._jsc.sc().dagScheduler().nextJobId()
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            t1 = time.perf_counter()
            jobs_build = sc._jsc.sc().dagScheduler().nextJobId() - j0
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            jobs_exec = (sc._jsc.sc().dagScheduler().nextJobId()
                         - j0 - jobs_build)
            # hygiene (outside the measured window, mirrors bench)
            t3 = time.perf_counter()
            for handle in ("_cosine_sig_cache", "_tfidf_cache",
                           "_pagerank_cache"):
                cache = getattr(df, handle, None)
                if cache is None:
                    continue
                for c in (cache if isinstance(cache, list) else [cache]):
                    c.unpersist()
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t4 = time.perf_counter()
            print(json.dumps({
                "name": name, "pass": i,
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "hygiene_s": round(t4 - t3, 3),
                "jobs_build": jobs_build,
                "jobs_exec": jobs_exec,
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
