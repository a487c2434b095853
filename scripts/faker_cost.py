"""Per-faker evaluation cost, inline portable text vs the Spark twin.

Usage: python scripts/faker_cost.py [--rows 200000] [--reps 5] [--seed 1]
                                    [--fakers FullName,Phone,... | ALL]

Builds a seeded corpus of ``--rows`` strings (phone-, email-, name- and
comment-shaped values, NULLs and empties), caches it, and times a noop
write of each faker's column three ways, interleaved per repetition: the
bare column (the baseline), the inline text ``anonymise_sql`` emits (the
text the DuckDB oracle replays), and the Spark twin the engine runs
(``anonymise_spark_factored``: helper pre-projection, then the
expression). The session is ``local[1]`` with the benchmark's C1-only
JIT, so wall time is one task thread's time. Prints one table row per
faker: median µs/row above the baseline for each text, and their ratio.

Numbers are for comparing the two texts within one session; run the
script once per tree to compare trees. The table goes to stdout; Spark's
log (including janino's "grows beyond 64 KB" notices for the inline
position-keyed texts, which then run without whole-stage codegen) goes
to stderr.
"""

from __future__ import annotations

import argparse
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from klepto_spark.functions.anonymise import (  # noqa: E402
    FAKER_NAMES, anonymise_spark_factored, anonymise_sql)
from klepto_spark.session import get_spark  # noqa: E402

#: the fakers perfbench/spec.toml anonymises with
BENCH_FAKERS = ("FullName", "FormatPreserve", "EmailAddress", "Company",
                "Phone", "Sentence")
WORDS = ("furiously", "regular", "deposits", "sleep", "carefully", "final",
         "pinto", "beans", "Ironic", "QUICK", "accounts", "wake")


def corpus(n: int, seed: int) -> list[tuple[int, str | None]]:
    rng = random.Random(seed)

    def value(i: int) -> str | None:
        kind = i % 6
        if kind == 0:
            return (f"{rng.randint(10, 34)}-{rng.randint(100, 999)}-"
                    f"{rng.randint(100, 999)}-{rng.randint(1000, 9999)}")
        if kind == 1:
            return f"{rng.choice(WORDS).lower()}{rng.randint(1, 999)}@x.com"
        if kind == 2:
            return f"Customer#{rng.randint(1, 10**9):09d}"
        if kind == 3:
            return " ".join(rng.choice(WORDS)
                            for _ in range(rng.randint(2, 8)))
        if kind == 4:
            return None if rng.random() < 0.5 else ""
        return str(rng.randint(10**15, 10**16 - 1))
    return [(i, value(i)) for i in range(n)]


def timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--fakers", default=",".join(BENCH_FAKERS),
                    help="comma-separated faker specs, or ALL")
    args = ap.parse_args()
    specs = (FAKER_NAMES if args.fakers == "ALL"
             else [f for f in args.fakers.split(",") if f])
    spark = get_spark(app_name="faker_cost", master="local[1]", extra_conf={
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
        "spark.sql.shuffle.partitions": "1",
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.createDataFrame(corpus(args.rows, args.seed),
                                "id int, v string").repartition(1).cache()
    src.count()

    def inline_df(spec):
        return src.selectExpr(f"{anonymise_sql(spec, 'v', table='t')} AS out")

    def twin_df(spec):
        sql, helpers = anonymise_spark_factored(spec, "v", table="t",
                                                avoid={"id", "v"})
        return (src.selectExpr("v", *[f"{h} AS {n}"
                                      for n, h in helpers.items()])
                .selectExpr(f"{sql} AS out"))

    base_df = src.selectExpr("v AS out")
    for _ in range(2):  # warm the JIT and the codegen caches
        timed(base_df)
    print(f"rows={args.rows} reps={args.reps} seed={args.seed} "
          f"(local[1], C1-only; µs/row above the bare-column baseline)")
    print(f"{'faker':<28}{'inline':>10}{'twin':>10}{'twin/inline':>13}")
    for spec in specs:
        frames = {"base": base_df, "inline": inline_df(spec),
                  "twin": twin_df(spec)}
        for df in frames.values():  # compile + first run, untimed
            timed(df)
        samples: dict[str, list[float]] = {k: [] for k in frames}
        for _ in range(args.reps):
            for k, df in frames.items():
                samples[k].append(timed(df))
        base = statistics.median(samples["base"])
        cost = {k: max(0.0, statistics.median(v) - base) * 1e6 / args.rows
                for k, v in samples.items() if k != "base"}
        ratio = (cost["twin"] / cost["inline"]) if cost["inline"] else 0.0
        print(f"{spec:<28}{cost['inline']:>10.2f}{cost['twin']:>10.2f}"
              f"{ratio:>13.2f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
