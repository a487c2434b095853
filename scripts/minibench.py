"""Quick per-query re-measure for optimization iterations.

Usage: python scripts/minibench.py q1 q2 ...   (or ALL)
Same methodology as bench.py (noop sink, adaptive warmup, best + median
of N runs, cache release between queries) but over a subset, with no
load gate — numbers are for RELATIVE before/after comparison while
iterating; the official artifact stays bench.py's.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import _sample  # noqa: E402
from klepto_spark.operators import dedup  # noqa: E402
from klepto_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    qmap = entry_mod.queries()
    if names == ["ALL"]:
        names = list(qmap)
    spark = get_spark(app_name="klepto_spark_minibench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    out = {}
    for name in names:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(name)
        prev = None
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cur = time.perf_counter() - t0
            if prev is not None and (cur < 0.5 or cur >= 0.85 * prev):
                prev = cur
                break
            prev = cur
        best, stats = _sample(spark, sf_dir, fn, runs)
        out[name] = {"best": best, "median": stats["median"]}
        dedup.release_caches()
        print(f"{name}: best={out[name]['best']} median={out[name]['median']}",
              file=sys.stderr)
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
