"""Benchmark of the ``steal`` engine: copy + anonymise, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload steal_parquet --seed 1 --seconds 8 --trace 0

Workloads (closed loop, one client, ``local[4]``, engine concurrency 4):

- ``steal_parquet``: ``steal`` copies the whole generated catalog to
  ``parquet://`` through the spec in ``spec.toml``;
- ``sqltext_and_queries``: the same restricted and anonymised
  ``lineitem`` pipeline, sent through ``steal`` to one ``file://``
  SQL-text file, then three contract queries of ``__spark_entry__`` over
  a generated corpus, each into Spark's ``noop`` sink.

The inputs are generated from the seed (datagen.py) into a cache keyed by
seed, untimed. Set-up, from process start until the Spark session is up
and ``sources.connect`` has returned, is measured in two fresh driver
processes and reported as their median; the second of them runs the
workload (worker.py). The outputs are checked against DuckDB (check.py),
untimed: the tables of the last pass and the query results of the cold
pass.

Times with a bound are CPU seconds of the driver's Python process and its
JVM, not wall-clock seconds: on a host shared with other guests the same
run's wall time varies by half or more from one minute to the next, its
CPU time much less. Wall-clock times are per-layer metrics and are in
every run's record.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The traced run also writes its
spans to ``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

from worker import QUERIES, WORKLOADS

HERE = Path(__file__).resolve().parent
SETUPS = 2
#: a run ends within three minutes: a set-up probe is killed after
#: PROBE_TIMEOUT_S, and the workload's worker when RUN_LIMIT_S have gone
#: by since the run started, less CHECK_RESERVE_S for the checks after it
PROBE_TIMEOUT_S, RUN_LIMIT_S, CHECK_RESERVE_S = 40, 175, 15
DRIVER_MEMORY = "1g"

UNITS = {"setup_s": "s", "warm_cpu_s": "s",
         "rows_per_cpu_s": "1/s", "bytes_out_per_in": "ratio",
         "peak_rss_mb": "MB"}

#: per-layer metric -> unit; every one is reported on both workloads, and
#: a layer the workload does not use reads 0
LAYER_UNITS = {
    "wall.cold_s": "s", "wall.warm_s": "s", "cpu.cold_s": "s",
    "engine.parallelism": "ratio", "engine.critical_table_s": "s",
    "engine.structure_s": "s",
    "sources.connect_s": "s", "sources.load_s": "s", "sources.scan_s": "s",
    "sources.rows_in": "count",
    "pipeline.build_s": "s", "pipeline.py4j_calls": "count",
    "pipeline.restrict_s": "s", "pipeline.selectivity": "ratio",
    "anonymise.compile_s": "s", "anonymise.eval_s": "s",
    "pii.eval_s": "s",
    "writers.write_s": "s", "writers.files_out": "count",
    "writers.bytes_out": "bytes",
    "sqltext.gen_s": "s", "sqltext.drain_s": "s", "sqltext.bytes_out": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "trace.overhead_s": "s",
    "fail_ratio": "ratio",
    **{f"self.{n}_s": "s" for n in (
        "steal", "structure", "load", "build_table_df",
        "anonymise_spark_factored", "redact", "write_table",
        "dump_table_sql", "insert_statements")},
    **{f"query.{q}.{m}": u for q in QUERIES for m, u in (
        ("wall_s", "s"), ("jobs", "count"), ("py4j_calls", "count"),
        ("shuffle_bytes", "bytes"))},
}


class WorkerError(RuntimeError):
    pass


def _end_session(proc: subprocess.Popen) -> None:
    """Kill what is left of a worker's session and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    try:
        while time.monotonic() < deadline:  # the JVM, reaped by init
            os.killpg(proc.pid, 0)
            time.sleep(0.05)
    except ProcessLookupError:
        pass


def _worker(args, paths: dict, setup_only: bool,
            deadline: float) -> tuple[float, float]:
    """Start one driver process; return the seconds and CPU seconds it
    took to set up.

    With ``setup_only`` the process and its JVM are killed as soon as they
    are set up; otherwise the process runs the workload. Either way this
    returns only after the process and everything it started have ended.
    """
    cmd = [sys.executable, str(HERE / "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--inputs", paths["inputs"], "--out", paths["out"],
           "--tmp", paths["tmp"], "--result", paths["result"],
           "--spans", paths["spans"]]
    if "ops" in paths:
        cmd += ["--ops", paths["ops"]]
    env = dict(os.environ,
               PYTHONPATH=os.getcwd(), TMPDIR=paths["tmp"],
               SPARK_GRAFT_LOCAL_DIR=os.path.join(paths["tmp"], "spark-local"),
               SPARK_GRAFT_WAREHOUSE_DIR=os.path.join(paths["tmp"],
                                                      "warehouse"),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY)
    ready: list[float] = []
    with open(paths["log"], "a") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                env=env, text=True, start_new_session=True)

        def read_stdout() -> None:
            # the JVM inherits this pipe too, so it is read to the end
            for line in proc.stdout:
                if line.startswith("READY ") and not ready:
                    ready.append((time.perf_counter() - t0,
                                  float(line.split()[1])))
                    if setup_only:
                        os.killpg(proc.pid, signal.SIGKILL)

        reader = threading.Thread(target=read_stdout, daemon=True)
        reader.start()
        left = max(1.0, deadline - time.monotonic())
        try:
            code = proc.wait(timeout=min(PROBE_TIMEOUT_S, left) if setup_only
                             else left)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _end_session(proc)
            reader.join(timeout=10)
            proc.stdout.close()
    if not ready or (code != 0 and not setup_only):
        raise WorkerError(f"worker exited with {code}; see {paths['log']}")
    return ready[0]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def _input_rows(inputs: str, tables: list[str]) -> int:
    import duckdb
    con = duckdb.connect()
    try:
        return sum(con.execute(
            f"SELECT count(*) FROM read_parquet('{inputs}/{t}.parquet')"
        ).fetchone()[0] for t in tables)
    finally:
        con.close()


def run(args) -> dict:
    import datagen
    import worker
    from check import check_parquet, check_queries, check_sql_dump
    from klepto_spark.config import load_spec

    deadline = time.monotonic() + RUN_LIMIT_S - CHECK_RESERVE_S
    work = Path(os.getcwd(), ".perfbench")
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "cpus": os.cpu_count(),
              "master": worker.MASTER, "loadavg_start": os.getloadavg()}
    stat0, t0 = _cpu_times(), time.perf_counter()
    inputs = datagen.ensure(str(work / "inputs"), args.seed)
    run_dir = work / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    paths = {k: str(run_dir / k) for k in ("out", "tmp")}
    for p in paths.values():
        os.makedirs(p)
    (work / "traces").mkdir(exist_ok=True)
    paths.update(inputs=inputs, result=str(run_dir / "result.json"),
                 log=str(run_dir / "worker.log"),
                 spans=str(work / "traces" /
                           f"{args.workload}-seed{args.seed}.json"))
    if args.workload == "sqltext_and_queries":
        paths["ops"] = datagen.ensure_ops(str(work / "inputs"), args.seed)
    record["gen_s"] = time.perf_counter() - t0

    setups = [_worker(args, paths, True, deadline)
              for _ in range(SETUPS - 1 if not args.trace else 0)]
    setups.append(_worker(args, paths, False, deadline))
    setup_wall, setup_cpu = zip(*setups)
    res = json.loads(Path(paths["result"]).read_text())
    t0 = time.perf_counter()

    spec = load_spec(HERE / "spec.toml")
    seed = worker.faker_seed(args.seed)
    if args.workload == "steal_parquet":
        out = Path(paths["out"], "catalog")
        tables = sorted(p.stem for p in Path(inputs).glob("*.parquet"))
        ok = check_parquet(inputs, str(out), spec, seed)
    else:
        out = Path(paths["out"], f"{worker.SQLTEXT_TABLE}.sql")
        tables = [worker.SQLTEXT_TABLE]
        ok = check_sql_dump(inputs, str(out), worker.SQLTEXT_TABLE, spec, seed)
        ok.update(check_queries(paths["ops"], str(Path(paths["out"],
                                                       "queries")), QUERIES))
    record["check_s"] = time.perf_counter() - t0
    bad = [t for t, good in ok.items() if not good]
    if bad:
        print(f"outputs differ from the DuckDB oracle: {bad}", file=sys.stderr)
    attempted, failed = res["attempted"], res["failed"] + len(bad)
    bytes_in = sum(Path(inputs, f"{t}.parquet").stat().st_size
                   for t in tables)
    # parquet sink: the data files under <table>.parquet/ directories
    files = ([p for p in out.rglob("*.parquet") if p.is_file()]
             if out.is_dir() else [out])
    bytes_out = sum(p.stat().st_size for p in files)

    if not args.trace:
        # the first warm pass is a warm-up
        metrics = {"setup_s": statistics.median(setup_cpu),
                   "warm_cpu_s": statistics.median(res["warm_cpu_s"][1:]),
                   "rows_per_cpu_s": (
                       res["rows_out"]
                       / statistics.median(res["warm_steal_cpu_s"][1:])),
                   "bytes_out_per_in": bytes_out / bytes_in,
                   "peak_rss_mb": res["peak_rss_kb"] / 1024}
        units = UNITS
    else:
        rows_in = _input_rows(inputs, tables)
        files_out = len(files) if out.is_dir() else 0
        metrics = dict.fromkeys(LAYER_UNITS, 0.0)
        metrics.update(res["layers"])
        metrics.update({
            "wall.cold_s": res["cold_s"],
            "wall.warm_s": statistics.median(res["warm_s"][1:]),
            "cpu.cold_s": res["cold_cpu_s"],
            "sources.rows_in": rows_in,
            "pipeline.selectivity": res["rows_out"] / rows_in,
            "writers.files_out": files_out,
            "writers.bytes_out": bytes_out if files_out else 0,
            "sqltext.bytes_out": 0 if files_out else bytes_out,
            "fail_ratio": failed / attempted,
        })
        units = LAYER_UNITS
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u}
                          for k, u in units.items()}}
    record.update(setup_samples=setup_wall, setup_cpu_samples=setup_cpu,
                  cold_s=res["cold_s"], cold_cpu_s=res["cold_cpu_s"],
                  warm_samples=res["warm_s"],
                  warm_cpu_samples=res["warm_cpu_s"],
                  warm_steal_samples=res["warm_steal_s"],
                  warm_steal_cpu_samples=res["warm_steal_cpu_s"],
                  query_samples=res.get("query_s"),
                  loadavg_end=os.getloadavg(),
                  cpu_steal_share=_steal_share(stat0, _cpu_times()),
                  decompose_s=res.get("decompose_s"),
                  result=result)
    (work / "runs").mkdir(exist_ok=True)
    (work / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
     ).write_text(json.dumps(record, indent=1))
    print(f"perfbench: {len(setups)} set-ups, 1 cold pass, "
          f"{len(res['warm_s'])} warm passes", file=sys.stderr)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = Path(os.getcwd())
    if not (root / "klepto_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout that holds "
              "klepto_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    sys.path.insert(1, str(HERE))
    try:
        result = run(args)
    except WorkerError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
