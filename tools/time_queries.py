#!/usr/bin/env python
"""Interleaved timing harness for named registry queries, for
adjudicating cross-round bench moves (the r6/r7/r8 verdicts each
needed one).

Usage:
    python tools/time_queries.py q_name [q_name ...]
        [--sf-dir DIR | --sf1] [--runs 3]
        [--ab key=value]          # arm B sets this conf, arm A unsets

One tuned session from session.get_spark (honours SPARK_GRAFT_CPUS
and SPARK_GRAFT_DRIVER_MEM), warm page cache (one count() per input
table), one discarded warmup run per query, then `--runs` timed runs
(interleaved A/B when --ab is given — only interleaved numbers are
comparable; absolute times swing 2-5x with host load). Prints one JSON
line per query: {"query", "sf_dir", "runs": [...], "min", plus
"runs_b"/"min_b" under --ab}.
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def main() -> int:
    names: list = []
    runs = 3
    ab = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    argv = iter(sys.argv[1:])
    for a in argv:
        if a == "--runs":
            runs = int(next(argv))
        elif a == "--sf-dir":
            sf_dir = next(argv)
        elif a == "--sf1":
            from tools.stage_sf1 import sf1_dir

            p = sf1_dir()
            assert (p / ".complete").exists(), "stage sf1 first"
            sf_dir = str(p)
        elif a == "--ab":
            ab = next(argv).split("=", 1)
        elif a.startswith("--"):
            print(f"unknown option {a}", file=sys.stderr)
            return 2
        else:
            names.append(a)

    from pyspark.errors import AnalysisException

    from bigdata_deepfakeanalysis_spark.session import get_spark
    from bigdata_deepfakeanalysis_spark.registry import all_queries
    from bigdata_deepfakeanalysis_spark.catalog import TABLES, table

    spark = get_spark("time_queries")
    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    for t in TABLES:
        try:  # staged dirs may hold only the tables their queries read
            table(spark, sf_dir, t).count()
        except AnalysisException:
            pass

    def run_once(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    for name in names:
        run_once(name)  # discard: JIT + shuffle-dir warm
        times_a, times_b = [], []
        for _ in range(runs):
            if ab is not None:
                spark.conf.unset(ab[0])
            times_a.append(round(run_once(name), 3))
            if ab is not None:
                spark.conf.set(ab[0], ab[1])
                times_b.append(round(run_once(name), 3))
        out = {
            "query": name,
            "sf_dir": sf_dir,
            "runs": times_a,
            "min": min(times_a),
        }
        if ab is not None:
            out["ab_conf"] = f"{ab[0]}={ab[1]}"
            out["runs_b"] = times_b
            out["min_b"] = min(times_b)
        print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
