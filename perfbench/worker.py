"""One Spark driver process of the benchmark (started by run.py).

It sets up the session, prints ``READY`` as soon as the session is up
and ``sources.connect`` has returned (run.py times set-up up to that
line, and kills the set-up probes there), and then runs one workload in
a closed loop with one client: each pass starts when the previous one
has finished. The first pass in the fresh session is the cold pass; warm
passes follow until ``--seconds`` have gone by since the cold pass
ended, and at least ``MIN_WARM`` of them. Each pass's wall-clock and CPU
seconds go to ``--result`` as JSON.

A pass of ``sqltext_and_queries`` is a ``steal`` of one table to a
SQL-text file followed by the contract queries of ``QUERIES``, in an
order drawn from the seed. The warm passes write each query's result
into Spark's ``noop`` sink; the cold pass writes it as parquet, for
run.py to check against the query's DuckDB oracle.

With ``--trace 1`` the cold pass and every second warm pass run with the
layer spans of spans.py installed, and afterwards each layer's share is
taken apart by executing the same frames serially into Spark's ``noop``
sink with and without that layer.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import resource
import statistics
import subprocess
import sys
import time
from pathlib import Path

from spans import Tracer, self_times

HERE = Path(__file__).resolve().parent
WORKLOADS = ("steal_parquet", "sqltext_and_queries")
MASTER = "local[4]"
CONCURRENCY = 4
#: the table the SQL-text workload dumps (a multi-table dump to one
#: file:// sink keeps only the last table written; see NOTES.md)
SQLTEXT_TABLE = "lineitem"
#: warm passes at least; the first of them is a warm-up, left out of the
#: warm metrics
MIN_WARM = 4
#: contract queries (``__spark_entry__.queries()``) of sqltext_and_queries:
#: the Gopher n-gram signals, batch sessionization and the banded range
#: join (NOTES.md says why the dedup and curation queries are left out)
QUERIES = ("t15_gopher_signals", "a09_sessionize_batch", "a12_range_join")


def faker_seed(seed: int) -> str:
    return f"perfbench-{seed}"


def query_order(seed: int) -> list[str]:
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return order


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def sink_dsn(workload: str, out: str) -> str:
    if workload == "steal_parquet":
        return f"parquet://{out}/catalog"
    return f"file://{out}/{SQLTEXT_TABLE}.sql"


def start_session(inputs: str, tmp: str, tracer: Tracer | None):
    import klepto_spark as ks
    from klepto_spark.sources.catalog import connect

    # C1 only and a heap fixed at its maximum: with C2 the warm passes keep
    # getting cheaper for the whole run, and a growing heap makes the peak
    # RSS of one run 30 % above another's (NOTES.md)
    spark = ks.get_spark(app_name="perfbench", master=MASTER, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
            f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    with _span(tracer, "connect"):
        source = connect(spark, f"parquet://{inputs}")
    return spark, source


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_kb(spark) -> int:
    status = Path(f"/proc/{jvm_pid(spark)}/status").read_text()
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


class CpuClock:
    """CPU seconds (user + system) of this process and the JVM so far.

    A process's own threads count, and its children once reaped (the
    JVM's launcher among them). Time the hypervisor gives to other guests,
    or that other processes of the machine take, is not in it.
    """

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, spark) -> None:
        self.pids = (os.getpid(), jvm_pid(spark))

    def now(self) -> float:
        total = 0
        for pid in self.pids:
            # fields 14 to 17 of stat: utime, stime, cutime, cstime
            stat = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1]
            total += sum(int(x) for x in stat.split()[11:15])
        return total / self.TICK


class JobCounter:
    """Job, stage and task counts of everything run between two reads."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self.seen = set(self.tracker.getJobIdsForGroup(None))

    def counts(self) -> dict[str, int]:
        now = set(self.tracker.getJobIdsForGroup(None))
        jobs, self.seen = now - self.seen, now
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def run_pass(spec, source, workload: str, out: str, seed: int,
             tracer: Tracer | None = None) -> dict:
    import klepto_spark as ks

    only = [SQLTEXT_TABLE] if workload != "steal_parquet" else None
    t0 = time.perf_counter()
    try:
        with _span(tracer, "steal"):
            report = ks.steal(spec, source, sink_dsn(workload, out),
                              concurrency=CONCURRENCY, seed=faker_seed(seed),
                              only_tables=only)
    except Exception as exc:  # noqa: BLE001 — a failed pass is counted
        print(f"pass failed: {exc}", file=sys.stderr)
        tables = _tables(source, workload)
        return {"seconds": time.perf_counter() - t0, "rows": 0,
                "tables": len(tables), "failed": len(tables),
                "table_seconds": {}}
    return {"seconds": time.perf_counter() - t0,
            "rows": sum(t.rows or 0 for t in report.tables),
            "tables": len(report.tables),
            "failed": sum(t.error is not None for t in report.tables),
            "table_seconds": {t.table: t.seconds for t in report.tables}}


def _tables(source, workload: str) -> list[str]:
    return source.tables() if workload == "steal_parquet" else [SQLTEXT_TABLE]


def run_queries(spark, fns: dict, ops: str, seed: int,
                tracer: Tracer | None = None, out: str | None = None) -> dict:
    """Each query of ``QUERIES``, one after the other, into ``noop`` or,
    given ``out``, as parquet into ``out/<query>/``.

    A traced run also counts each query's Spark jobs and py4j round
    trips (its call plus its action)."""
    from klepto_spark.operators import dedup

    res = {"seconds": {}, "failed": 0, "jobs": {}, "py4j": {}}
    for name in query_order(seed):
        jobs = JobCounter(spark) if tracer else None
        t0 = time.perf_counter()
        try:
            with _span(tracer, f"query.{name}") as span:
                with _span(tracer, "call"):
                    df = fns[name](spark, ops)
                with _span(tracer, "action"):
                    if out is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        df.write.mode("overwrite").parquet(f"{out}/{name}")
        except Exception as exc:  # noqa: BLE001 — a failed query is counted
            print(f"{name} failed: {exc}", file=sys.stderr)
            res["failed"] += 1
        res["seconds"][name] = time.perf_counter() - t0
        # the persisted frames a query pins live until its result is written
        dedup.release_caches()
        if tracer:
            res["jobs"][name] = jobs.counts()["jobs"]
            res["py4j"][name] = span.py4j
    return res


def shuffle_bytes(df) -> int:
    """Bytes the shuffle exchanges of one execution of ``df`` wrote.

    Read from the executed plan's node metrics after
    ``queryExecution().toRdd().count()``, which leaves the adaptive plan
    final. Query stages, adaptive plans and cached relations are walked
    into; a reused exchange is a leaf, so it is not counted twice."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    total, todo = 0, [qe.executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        elif kind == "ShuffleExchangeExec":
            total += node.metrics().apply("dataSize").value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total


def query_layers(spark, fns: dict, ops: str, passes: list[dict],
                 traced: list[dict]) -> dict[str, float]:
    from klepto_spark.operators import dedup

    layers = {}
    for name in QUERIES:
        df = fns[name](spark, ops)
        layers[f"query.{name}.shuffle_bytes"] = shuffle_bytes(df)
        dedup.release_caches()
        layers[f"query.{name}.wall_s"] = statistics.median(
            p["queries"]["seconds"][name] for p in passes)
        layers[f"query.{name}.jobs"] = traced[0]["queries"]["jobs"][name]
        layers[f"query.{name}.py4j_calls"] = \
            traced[0]["queries"]["py4j"][name]
    return layers


def py4j_calls(tracer: Tracer, client, spec, source, workload: str,
               seed: int) -> int:
    """py4j round trips to build every table's frame once, serially.

    Counted apart from the passes: under the engine's thread pool the
    count varies with which thread first fills pyspark's lazy caches.
    """
    import klepto_spark.engine as engine
    from klepto_spark.config import TableSpec

    tracer.trace = "serial"
    with tracer.installed(client):
        for name in _tables(source, workload):
            engine.build_table_df(spec.find_table(name) or TableSpec(name),
                                  source.load, spec=spec,
                                  seed=faker_seed(seed))
    return sum(s.py4j for s in tracer.spans
               if s.trace == "serial" and s.name == "build_table_df")


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _noop_s(df) -> float:
    return _timed(df.write.format("noop").mode("overwrite").save)


def decompose(spec, source, workload: str, scratch: str,
              seed: int) -> dict[str, float]:
    """Serial executions that take each layer's share apart."""
    from dataclasses import replace

    from klepto_spark.config import TableSpec
    from klepto_spark.operators.pipeline import build_table_df
    from klepto_spark.sinks import sqltext
    from klepto_spark.sinks.writers import write_table

    def dump(df, name):
        with open(f"{scratch}/{name}.sql", "w") as fh:
            sqltext.dump_table_sql(df, name, fh)

    out = dict.fromkeys(("sources.scan_s", "pipeline.restrict_s",
                         "anonymise.eval_s", "pii.eval_s", "writers.write_s",
                         "sqltext.gen_s", "sqltext.drain_s"), 0.0)
    for name in _tables(source, workload):
        tspec = spec.find_table(name) or TableSpec(name=name)

        def frame(t=tspec, anonymise=True):
            return build_table_df(t, source.load, spec=spec,
                                  seed=faker_seed(seed), anonymise=anonymise)

        scan = _noop_s(source.load(name))
        plain = _noop_s(frame(anonymise=False))
        full = _noop_s(frame())
        # a table with no redaction rule has no PII share to take apart
        no_pii = (_noop_s(frame(replace(tspec, pii_redact=[])))
                  if tspec.pii_redact else full)
        out["sources.scan_s"] += scan
        out["pipeline.restrict_s"] += plain - scan
        out["anonymise.eval_s"] += no_pii - plain
        out["pii.eval_s"] += full - no_pii
        if workload == "steal_parquet":
            out["writers.write_s"] += _timed(
                write_table, frame(), f"parquet://{scratch}", name) - full
        else:
            gen = _noop_s(sqltext.insert_statements(frame(), name))
            out["sqltext.gen_s"] += gen
            out["sqltext.drain_s"] += _timed(dump, frame(), name) - gen
    return out


def _sum(spans, name: str, field: str = "seconds") -> float:
    return sum(getattr(s, field) for s in spans if s.name == name)


def measure(args, spark, spec, source, tracer: Tracer | None) -> dict:
    client = spark.sparkContext._gateway._gateway_client
    cpu = CpuClock(spark)
    fns = None
    if args.workload == "sqltext_and_queries":
        import __spark_entry__
        fns = __spark_entry__.queries()

    def work(tr: Tracer | None, out: str | None = None) -> dict:
        t0, c0 = time.perf_counter(), cpu.now()
        p = run_pass(spec, source, args.workload, args.out, args.seed, tr)
        p["steal_s"], p["steal_cpu_s"] = p["seconds"], cpu.now() - c0
        if fns is not None:
            q = run_queries(spark, fns, args.ops, args.seed, tr, out)
            p.update(queries=q, tables=p["tables"] + len(QUERIES),
                     failed=p["failed"] + q["failed"])
        p["seconds"], p["cpu_s"] = time.perf_counter() - t0, cpu.now() - c0
        return p

    def one_pass(trace: str | None, out: str | None = None) -> dict:
        if trace is None:
            return work(None, out)
        tracer.trace = trace
        jobs = JobCounter(spark)
        with tracer.installed(client):
            p = work(tracer, out)
        p["spark"], p["trace"] = jobs.counts(), trace
        return p

    cold = one_pass(None if tracer is None else "cold",
                    os.path.join(args.out, "queries"))
    # traced and untraced warm passes alternate in a traced run, starting
    # and ending untraced: the first warm pass is still settling, so the
    # tracing overhead compares the traced passes with the untraced after it
    passes, traced = [], []
    start = time.perf_counter()
    while (time.perf_counter() - start < args.seconds
           or len(passes) + len(traced) < MIN_WARM
           or (tracer is not None and len(passes) < 2)):
        if tracer is not None and len(traced) < len(passes):
            traced.append(one_pass(f"warm{len(passes) + len(traced)}"))
        else:
            passes.append(one_pass(None))
    runs = [cold, *passes, *traced]
    result = {
        "cold_s": cold["seconds"],
        "cold_cpu_s": cold["cpu_s"],
        "warm_s": [p["seconds"] for p in passes],
        "warm_cpu_s": [p["cpu_s"] for p in passes],
        "warm_steal_s": [p["steal_s"] for p in passes],
        "warm_steal_cpu_s": [p["steal_cpu_s"] for p in passes],
        "rows_out": cold["rows"],
        "attempted": sum(p["tables"] for p in runs),
        "failed": sum(p["failed"] for p in runs),
        "peak_rss_kb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                        + jvm_peak_rss_kb(spark)),
    }
    if fns is not None:
        result["query_s"] = [p["queries"]["seconds"] for p in (cold, *passes)]
    if tracer is None:
        return result

    layers = layer_metrics(tracer, cold, passes, traced)
    layers["pipeline.py4j_calls"] = py4j_calls(tracer, client, spec, source,
                                               args.workload, args.seed)
    scratch = os.path.join(args.out, "decompose")
    os.makedirs(scratch, exist_ok=True)
    t0 = time.perf_counter()
    layers.update(decompose(spec, source, args.workload, scratch, args.seed))
    if fns is not None:
        layers.update(query_layers(spark, fns, args.ops, passes, traced))
    result.update(layers=layers, decompose_s=time.perf_counter() - t0)
    Path(args.spans).write_text(json.dumps(tracer.dump()))
    return result


def layer_metrics(tracer: Tracer, cold: dict, passes: list[dict],
                  traced: list[dict]) -> dict[str, float]:
    by_trace: dict[str, list] = {}
    for s in tracer.spans:
        by_trace.setdefault(s.trace, []).append(s)
    cold_spans = by_trace.get("cold", [])
    med = statistics.median
    layers = {
        "engine.parallelism": med(sum(p["table_seconds"].values())
                                  / p["steal_s"] for p in passes),
        "engine.critical_table_s": med(max(p["table_seconds"].values(),
                                           default=0.0) for p in passes),
        "engine.structure_s": _sum(cold_spans, "structure"),
        "sources.connect_s": _sum(by_trace.get("setup", []), "connect"),
        "sources.load_s": _sum(cold_spans, "load"),
        "pipeline.build_s": _sum(cold_spans, "build_table_df"),
        "anonymise.compile_s": _sum(cold_spans, "anonymise_spark_factored"),
        "trace.overhead_s": (med(p["seconds"] for p in traced)
                             - med(p["seconds"] for p in passes[1:])),
        **{f"spark.{k}": v for k, v in traced[0]["spark"].items()},
    }
    selfs = [self_times(by_trace.get(p["trace"], [])) for p in traced]
    for name in ("steal", "structure", "load", "build_table_df",
                 "anonymise_spark_factored", "redact", "write_table",
                 "dump_table_sql", "insert_statements"):
        layers[f"self.{name}_s"] = med(s.get(name, 0.0) for s in selfs)
    return layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--ops", help="the operator-query corpus")
    ap.add_argument("--out", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--result")
    ap.add_argument("--spans")
    args = ap.parse_args(argv)

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.trace = "setup"
    spark, source = start_session(args.inputs, args.tmp, tracer)
    try:
        print(f"READY {CpuClock(spark).now()}", flush=True)
        import klepto_spark as ks
        spec = ks.load_spec(HERE / "spec.toml")
        result = measure(args, spark, spec, source, tracer)
        Path(args.result).write_text(json.dumps(result))
    finally:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
