"""Pipeline compiler tests on the driver's testdata, with DuckDB as oracle.

Maps the reference fixture roles onto the TPC-H-ish tables per FIXTURES.md:
customer ≈ users (filter/sort/limit/anonymise), orders ≈ orders
(FK o_custkey→c_custkey), lineitem ≈ order_items (two-hop restriction
lineitem→orders→customer, reference examples/user-orders.toml:33-56)."""

import pytest

from klepto_spark.config import FilterSpec, Relationship, Spec, TableSpec
from klepto_spark.operators.pipeline import (
    build_table_df,
    build_table_sql,
    parquet_loader,
)
from tests.conftest import assert_df_matches_duck

CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _customer_spec(**kw):
    return TableSpec(name="customer", **kw)


def test_scan_passthrough(spark, duck, sf_dir):
    t = _customer_spec()
    df = build_table_df(t, parquet_loader(spark, sf_dir))
    assert_df_matches_duck(df, duck, "SELECT * FROM customer")


def test_filter_sort_limit_topk(spark, duck, sf_dir):
    # reference examples/user.toml:12-16 — latest-100 shape; unique sort key
    # appended so LIMIT ties can't differ between engines
    t = _customer_spec(filter=FilterSpec(
        match="customer.c_acctbal > 1000",
        limit=50,
        sorts=[("c_acctbal", "desc"), ("c_custkey", "asc")]))
    df = build_table_df(t, parquet_loader(spark, sf_dir))
    sql = ("SELECT * FROM customer WHERE c_acctbal > 1000 "
           "ORDER BY c_acctbal DESC, c_custkey LIMIT 50")
    assert_df_matches_duck(df, duck, sql)
    # top-k must compile to TakeOrderedAndProject, not a global sort
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_fk_restriction_single_hop(spark, duck, sf_dir):
    # orders restricted to customers matching a parent-side predicate
    # (reference engine.go:140-152, semi-join intent SURVEY §2.3 J1)
    t = TableSpec(
        name="orders",
        filter=FilterSpec(match="customer.c_mktsegment = 'BUILDING'"),
        relationships=[Relationship(foreign_key="o_custkey",
                                    referenced_table="customer",
                                    referenced_key="c_custkey")])
    sql = ("SELECT orders.* FROM orders JOIN customer "
           "ON customer.c_custkey = orders.o_custkey "
           "WHERE customer.c_mktsegment = 'BUILDING'")
    for strategy in ("inner", "semi"):
        df = build_table_df(t, parquet_loader(spark, sf_dir),
                            join_strategy=strategy)
        assert_df_matches_duck(df, duck, sql)


def test_fk_restriction_two_hop(spark, duck, sf_dir):
    # lineitem -> orders -> customer chain (examples/user-orders.toml:33-56)
    t = TableSpec(
        name="lineitem",
        filter=FilterSpec(match="customer.c_mktsegment = 'AUTOMOBILE'"),
        relationships=[
            Relationship(foreign_key="l_orderkey", referenced_table="orders",
                         referenced_key="o_orderkey"),
            Relationship(table="orders", foreign_key="o_custkey",
                         referenced_table="customer",
                         referenced_key="c_custkey"),
        ])
    sql = ("SELECT lineitem.* FROM lineitem "
           "JOIN orders ON orders.o_orderkey = lineitem.l_orderkey "
           "JOIN customer ON customer.c_custkey = orders.o_custkey "
           "WHERE customer.c_mktsegment = 'AUTOMOBILE'")
    for strategy in ("inner", "semi"):
        df = build_table_df(t, parquet_loader(spark, sf_dir),
                            join_strategy=strategy)
        assert_df_matches_duck(df, duck, sql)


def test_semi_strategy_broadcasts_parent(spark, sf_dir):
    """100 TB posture: the restriction side must broadcast when small and
    the child must not materialise parent columns."""
    t = TableSpec(
        name="orders",
        filter=FilterSpec(match="customer.c_mktsegment = 'BUILDING'"),
        relationships=[Relationship(foreign_key="o_custkey",
                                    referenced_table="customer",
                                    referenced_key="c_custkey")])
    df = build_table_df(t, parquet_loader(spark, sf_dir), join_strategy="semi")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # parent scan pruned to join key + predicate column only
    assert "c_acctbal" not in plan


def test_anonymise_matches_oracle(spark, duck, sf_dir):
    t = _customer_spec(
        filter=FilterSpec(match="customer.c_acctbal > 5000"),
        anonymise={"c_name": "FullName", "c_mktsegment": "literal:X"})
    df = build_table_df(t, parquet_loader(spark, sf_dir))
    sql = build_table_sql(t, columns=CUSTOMER_COLS)
    assert_df_matches_duck(df, duck, sql)


def test_build_table_sql_shape():
    t = TableSpec(
        name="orders",
        filter=FilterSpec(match="customer.c_mktsegment = 'BUILDING'",
                          limit=10, sorts=[("o_orderdate", "desc")]),
        relationships=[Relationship(foreign_key="o_custkey",
                                    referenced_table="customer",
                                    referenced_key="c_custkey")])
    sql = build_table_sql(t, columns=["o_orderkey", "o_custkey"])
    assert sql == ("SELECT orders.o_orderkey, orders.o_custkey FROM orders "
                   "JOIN customer ON customer.c_custkey = orders.o_custkey "
                   "WHERE customer.c_mktsegment = 'BUILDING' "
                   "ORDER BY o_orderdate desc LIMIT 10")


def test_anonymise_applied_after_filter(spark, duck, sf_dir):
    """SURVEY §4.3.3: filters see REAL data; output contains fake data."""
    t = _customer_spec(
        filter=FilterSpec(match="customer.c_name LIKE 'Customer#%'"),
        anonymise={"c_name": "FirstName"})
    df = build_table_df(t, parquet_loader(spark, sf_dir))
    rows = df.collect()
    assert len(rows) > 0  # filter matched original names
    assert all(not r.c_name.startswith("Customer#") for r in rows)


def test_pii_redact_pipeline_stage_matches_sql_twin(spark, sf_dir):
    """PiiRedact spec columns run the free-text masking rules after the
    fakers, in BOTH the Spark pipeline and the generated SQL."""
    import duckdb
    from klepto_spark.config import TableSpec
    from klepto_spark.operators.pipeline import (
        build_table_df, build_table_sql, parquet_loader)
    spec = TableSpec(name="customer", pii_redact=["c_name"])
    df = build_table_df(spec, parquet_loader(spark, sf_dir))
    rows = {r["c_custkey"]: r["c_name"] for r in df.collect()}
    # 'Customer#000000007' -> digit run masked
    assert all(v.startswith("Customer#<NUM>") for v in rows.values())
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"]
    sql = build_table_sql(spec, columns=cols)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM "
                f"read_parquet('{sf_dir}/customer.parquet')")
    oracle = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert oracle == rows


def test_backtick_column_name_copies_through(spark):
    """A passthrough column whose name holds a backtick survives every
    projection build_table_df compiles (target columns, fakers, PII
    redaction): identifiers are quoted with doubled backticks."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    schema = StructType([StructField("id", LongType()),
                         StructField("name", StringType()),
                         StructField("a`b", StringType()),
                         StructField("note", StringType())])
    src = spark.createDataFrame([(1, "Ann Lee", "x`1", "call 555-1234"),
                                 (2, "Bo Ray", None, "none")], schema)
    t = TableSpec(name="people", anonymise={"name": "FullName"},
                  pii_redact=["note"])
    df = build_table_df(t, lambda name: src)
    assert df.columns == ["id", "name", "a`b", "note"]
    assert [(r["id"], r["a`b"]) for r in df.orderBy("id").collect()] == [
        (1, "x`1"), (2, None)]
