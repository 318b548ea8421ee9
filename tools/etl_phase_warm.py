"""Warm per-phase decomposition of q_etl_pipeline (bench protocol shape:
1 warm-up + N timed iterations, median per phase).

Usage: python tools/etl_phase_warm.py [sf_dir] [iters]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_etl_project_spark.plans.pipeline import AutoETLPipeline
from mini_etl_project_spark.queries import QUERIES
from mini_etl_project_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("etl_phase_warm")

    per_phase: dict[str, list[float]] = {}
    current: dict[str, float] = {}

    def timed(cls, meth):
        orig = getattr(cls, meth)

        def wrap(*a, **kw):
            t0 = time.time()
            out = orig(*a, **kw)
            current[meth] = current.get(meth, 0.0) + (time.time() - t0)
            return out

        setattr(cls, meth, wrap)
        return orig

    origs = {
        m: timed(AutoETLPipeline, m)
        for m in (
            "_fused_stats",
            "_outlier_stats",
            "_mode_stats",
            "transform",
        )
    }

    def once() -> dict[str, float]:
        current.clear()
        t0 = time.time()
        df = QUERIES["q_etl_pipeline"](spark, sf_dir)
        t_build = time.time() - t0
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t_noop = time.time() - t1
        snap = dict(current)
        snap["build_total"] = t_build
        snap["noop_action"] = t_noop
        snap["end_to_end"] = t_build + t_noop
        return snap

    once()  # warm-up
    for _ in range(iters):
        snap = once()
        for k, v in snap.items():
            per_phase.setdefault(k, []).append(round(v, 3))

    for m, fn in origs.items():
        setattr(AutoETLPipeline, m, fn)

    out = {
        "sf_dir": sf_dir,
        "iters": iters,
        "median": {
            k: round(statistics.median(v), 3) for k, v in per_phase.items()
        },
        "all": per_phase,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
