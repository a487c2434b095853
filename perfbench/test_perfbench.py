"""Tests of the benchmark itself: inputs, checks, spans and metric names.

Run from the root of a checkout: ``python3 -m pytest perfbench``. The
``slow`` tests run the real benchmark (Spark, one to two minutes each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import pytest

import check
import datagen
import run
import worker
from spans import Span, Tracer, self_times

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TINY = 0.002


def _fingerprints(directory) -> dict[str, tuple[int, int]]:
    import duckdb
    con = duckdb.connect()
    try:
        return {t: check._fingerprint(
                    con, f"read_parquet('{directory}/{t}.parquet')")
                for t in datagen.TABLES}
    finally:
        con.close()


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    base = tmp_path_factory.mktemp("gen")
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        datagen.generate(str(base / name), seed, scale=TINY)
    return base


def test_generator_is_deterministic_per_seed(tiny):
    a, b, c = (_fingerprints(tiny / n) for n in "abc")
    assert a == b
    # the seed draws the PII columns; dbgen's own tables do not move
    assert a["orders"] != c["orders"] and a["customer"] != c["customer"]
    assert a["lineitem"] == c["lineitem"]


def test_operator_corpus_is_deterministic_per_seed(tmp_path):
    import duckdb
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        datagen.generate_ops(str(tmp_path / name), seed, docs=60, events=80)
    fp = {n: {t: check._fingerprint(duckdb, f"read_parquet("
                                    f"'{tmp_path / n}/{t}.parquet')")
              for t in datagen.OPS_TABLES} for n in "abc"}
    assert fp["a"] == fp["b"]
    assert all(fp["a"][t] != fp["c"][t] for t in datagen.OPS_TABLES)


def test_operator_corpus_has_distinct_event_times(tmp_path):
    # sessionization orders each user's events by time; a tie would make
    # the engine's and the oracle's sessions differ
    import duckdb
    datagen.generate_ops(str(tmp_path), 5)
    (n, ts), = duckdb.sql(
        f"SELECT count(*), count(DISTINCT ts) FROM "
        f"read_parquet('{tmp_path}/events.parquet')").fetchall()
    assert n == ts == datagen.N_EVENTS


def test_query_order_is_a_seeded_shuffle():
    assert worker.query_order(4) == worker.query_order(4)
    assert sorted(worker.query_order(4)) == sorted(worker.QUERIES)
    assert len({tuple(worker.query_order(s)) for s in range(20)}) > 1


def test_query_check_accepts_oracle_and_catches_a_changed_row(tmp_path):
    import duckdb

    import __spark_entry__
    inputs = tmp_path / "ops"
    datagen.generate_ops(str(inputs), 3, docs=80, events=120)
    con = check._connect(str(inputs))
    try:
        for n in worker.QUERIES:
            os.makedirs(tmp_path / "out" / n)
            con.execute(f"COPY ({__spark_entry__.oracle_sql()[n]}) TO "
                        f"'{tmp_path}/out/{n}/part-0.parquet' (FORMAT parquet)")
    finally:
        con.close()
    out = str(tmp_path / "out")
    assert all(check.check_queries(str(inputs), out, worker.QUERIES).values())
    a12 = f"{out}/a12_range_join/part-0.parquet"
    duckdb.sql(f"COPY (SELECT * REPLACE (n_events + 1 AS n_events) FROM "
               f"read_parquet('{a12}')) TO '{a12}.new' (FORMAT parquet)")
    os.replace(a12 + ".new", a12)
    assert check.check_queries(str(inputs), out, worker.QUERIES) == {
        **dict.fromkeys(worker.QUERIES, True), "a12_range_join": False}


def test_generated_notes_carry_every_pii_shape(tiny):
    import duckdb
    notes = [r[0] for r in duckdb.sql(
        f"SELECT o_note FROM read_parquet('{tiny}/a/orders.parquet')"
    ).fetchall()]
    assert any("@" in n for n in notes)
    assert any(n.count(".") >= 3 and "from " in n for n in notes)
    assert any("ref " in n for n in notes)


def _oracle_copy(inputs, out, spec, seed):
    """Write what a correct steal would: each table's oracle, as parquet."""
    con = check._connect(str(inputs))
    try:
        for t in datagen.TABLES:
            os.makedirs(out / f"{t}.parquet")
            con.execute(f"COPY {check._oracle(con, spec, t, seed)} TO "
                        f"'{out}/{t}.parquet/part-0.parquet' (FORMAT parquet)")
    finally:
        con.close()


def test_parquet_check_accepts_oracle_and_catches_a_changed_value(
        tiny, tmp_path):
    from klepto_spark.config import load_spec
    spec = load_spec(HERE / "spec.toml")
    _oracle_copy(tiny / "a", tmp_path, spec, "s")
    assert all(check.check_parquet(str(tiny / "a"), str(tmp_path), spec,
                                   "s").values())
    # another faker seed changes every anonymised value
    ok = check.check_parquet(str(tiny / "a"), str(tmp_path), spec, "t")
    assert {t for t, good in ok.items() if not good} == {
        "customer", "supplier", "orders", "lineitem"}


def test_sql_dump_check_round_trip(tiny, tmp_path):
    from klepto_spark.config import load_spec
    spec = load_spec(HERE / "spec.toml")
    con = check._connect(str(tiny / "a"))
    try:
        rows = con.execute(
            f"SELECT * FROM {check._oracle(con, spec, 'supplier', 's')}")
        cols = [d[0] for d in rows.description]
        body = rows.fetchall()
    finally:
        con.close()

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, (int, float, Decimal)):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    dump = tmp_path / "supplier.sql"
    head = ", ".join(f'"{c}"' for c in cols)
    dump.write_text(
        'CREATE TABLE "supplier" (\n' + ",\n".join(
            f'  "{c}" VARCHAR' for c in cols) + "\n);\n" + "".join(
            f'INSERT INTO "supplier" ({head}) VALUES '
            f"({', '.join(lit(v) for v in r)});\n" for r in body))
    args = (str(tiny / "a"), str(dump), "supplier", spec)
    assert check.check_sql_dump(*args, "s") == {"supplier": True}
    assert check.check_sql_dump(*args, "t") == {"supplier": False}


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [Span(1, "steal", "t", None, 0.0, 10.0),
             Span(2, "write_table", "t", 1, 1.0, 5.0),
             Span(3, "write_table", "t", 1, 3.0, 6.0),
             Span(4, "build_table_df", "t", 2, 1.0, 2.0)]
    got = self_times(spans)
    assert got["steal"] == pytest.approx(5.0)
    assert got["write_table"] == pytest.approx(3.0 + 3.0)
    assert got["build_table_df"] == pytest.approx(1.0)


def test_tracer_restores_every_wrapped_attribute():
    import klepto_spark.engine as engine
    from klepto_spark.sources.catalog import FileCatalog

    class Client:
        def send_command(self, command):
            return command

    client = Client()
    before = (engine.build_table_df, FileCatalog.load)
    tracer = Tracer()
    with tracer.installed(client):
        assert engine.build_table_df is not before[0]
        with tracer.span("outer"):
            client.send_command("x")
            client.send_command("y")
    assert (engine.build_table_df, FileCatalog.load) == before
    assert "send_command" not in vars(client)
    assert tracer.spans[0].py4j == 2


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def _bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_every_named_metric_is_emitted(workload, trace):
    out = _bench(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    names = run.LAYER_UNITS if trace else run.UNITS
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_to_run_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "steal_parquet",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""
