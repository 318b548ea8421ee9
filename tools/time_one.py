"""Time one query with the bench protocol (warm-up + median of N).

Usage: python tools/time_one.py <query_name> [n_runs] [sf_dir]
Prints per-run seconds and the median. Same noop-sink action as bench.py.
Each run's line splits its seconds into build (the ``QUERIES[...]`` call,
eager jobs included) and action (the noop write); each is its own Spark
job group, and the line shows how many Spark jobs each started.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_etl_project_spark.queries import QUERIES
from mini_etl_project_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in QUERIES:
        print(__doc__.splitlines()[2], file=sys.stderr)
        print(f"known queries: {sorted(QUERIES)}", file=sys.stderr)
        sys.exit(1)
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("time_one")
    sc = spark.sparkContext
    ts, builds, actions = [], [], []

    def timed(group, fn):
        sc.setJobGroup(group, f"time_one:{name}")
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return out, dt, len(sc.statusTracker().getJobIdsForGroup(group))

    for i in range(n + 1):
        tag = "warmup" if i == 0 else f"run{i}"
        group = f"time_one:{name}:{tag}"
        df, b_s, b_jobs = timed(f"{group}:build", lambda: QUERIES[name](spark, sf_dir))
        _, a_s, a_jobs = timed(
            f"{group}:action",
            lambda: df.write.format("noop").mode("overwrite").save(),
        )
        print(
            f"{tag}: {b_s + a_s:.3f} s, {b_jobs + a_jobs} jobs "
            f"(build {b_s:.3f} s, {b_jobs} jobs; action {a_s:.3f} s, {a_jobs} jobs)",
            flush=True,
        )
        if i > 0:
            ts.append(b_s + a_s)
            builds.append(b_s)
            actions.append(a_s)
    print(
        f"median: {statistics.median(ts):.4f} "
        f"(build {statistics.median(builds):.4f}, action {statistics.median(actions):.4f})"
    )


if __name__ == "__main__":
    main()
