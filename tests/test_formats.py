"""CSV/JSON source + sink round-trips through the DSN-routed paths."""

import pytest

from klepto_spark.sinks.writers import write_table
from klepto_spark.sources.catalog import connect


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    src = connect(spark, f"parquet://{sf_dir}")
    region = src.load("region")
    for fmt in ("csv", "json"):
        write_table(region, f"{fmt}:///{str(tmp_path / fmt).lstrip('/')}",
                    "region")
        back = connect(spark, f"{fmt}:///{str(tmp_path / fmt).lstrip('/')}")
        assert back.tables() == ["region"]
        got = back.load("region")
        assert got.count() == 5
        assert sorted(r.r_name for r in got.collect()) == \
            sorted(r.r_name for r in region.collect())


def test_csv_catalog_infers_schema(spark, sf_dir, tmp_path):
    src = connect(spark, f"parquet://{sf_dir}")
    write_table(src.load("nation"), f"csv:///{str(tmp_path).lstrip('/')}",
                "nation")
    cat = connect(spark, f"csv:///{str(tmp_path).lstrip('/')}")
    df = cat.load("nation")
    types = dict(df.dtypes)
    assert types["n_nationkey"] == "int" and types["n_name"] == "string"


def test_merge_schema_widens_drifted_parquet(spark, tmp_path):
    """CDC-append sources mix physical types over time (int32 files then
    int64). The default read samples one footer, so results depend on
    file listing order; merge_schema=True reconciles added columns via
    Spark's mergeSchema and falls back to explicit numeric widening
    (integral chain, integral+fractional -> double) when footers are
    type-incompatible."""
    from klepto_spark.sources.catalog import FileCatalog
    src = str(tmp_path)
    (spark.range(3).selectExpr("CAST(id AS INT) AS id",
                               "CAST(1 AS INT) AS ver")
     .write.parquet(f"{src}/t.parquet"))
    (spark.range(3, 5).selectExpr("id", "CAST(2.5 AS DOUBLE) AS ver",
                                  "'x' AS extra")
     .write.mode("append").parquet(f"{src}/t.parquet"))
    cat = FileCatalog(spark, src, merge_schema=True)
    df = cat.load("t")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"id": "bigint", "ver": "double", "extra": "string"}
    rows = sorted((r["id"], r["ver"], r["extra"]) for r in df.collect())
    assert rows[0] == (0, 1.0, None) and rows[-1] == (4, 2.5, "x")

    # non-numeric conflicts refuse rather than corrupt
    import pytest as _pytest
    (spark.range(5, 6).selectExpr("id", "'nope' AS ver")
     .write.mode("append").parquet(f"{src}/t.parquet"))
    with _pytest.raises(Exception, match="widen|merge"):
        FileCatalog(spark, src, merge_schema=True).load("t").collect()


#: the widened type of each numeric pair (row joined with column), "-"
#: where no type holds both losslessly
_NUMERIC = ["tinyint", "smallint", "int", "bigint", "float", "double"]
_JOINED = """
tinyint   tinyint  smallint int    bigint double double
smallint  smallint smallint int    bigint double double
int       int      int      int    bigint double double
bigint    bigint   bigint   bigint bigint -      -
float     double   double   double -      float  double
double    double   double   double -      double double
"""


@pytest.mark.parametrize("row", _JOINED.strip().splitlines(),
                         ids=lambda r: r.split()[0])
def test_schema_widening_joins_numeric_pairs_losslessly(row):
    """The file catalog's schema widening and the keyed-merge alignment
    share one lossless-widening rule: a pair joins to the first of
    (a, b, double) both widen to, and bigint + fractional has none
    (doubles round bigints above 2^53)."""
    from pyspark.sql import types as T

    from klepto_spark.sources.catalog import _joined_type
    by_name = {"tinyint": T.ByteType(), "smallint": T.ShortType(),
               "int": T.IntegerType(), "bigint": T.LongType(),
               "float": T.FloatType(), "double": T.DoubleType()}
    a, *want = row.split()
    for b, expect in zip(_NUMERIC, want, strict=True):
        got = _joined_type(by_name[a], by_name[b])
        assert (got.simpleString() if got else "-") == expect, (a, b)


def test_orc_roundtrip_and_dsn(spark, sf_dir, tmp_path):
    """ORC is a first-class columnar at-rest format: write/read through the
    same generic fmt paths as parquet (predicate pushdown included)."""
    from klepto_spark.sources.catalog import FileCatalog
    from klepto_spark.sinks.writers import write_files
    src = FileCatalog(spark, sf_dir)
    nation = src.load("nation")
    write_files(nation, str(tmp_path), "nation", "orc")
    cat = FileCatalog(spark, str(tmp_path), fmt="orc")
    assert cat.tables() == ["nation"]
    back = cat.load("nation")
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, nation.collect()))
    # pushdown reaches the ORC scan like parquet
    plan = (back.filter(back.n_nationkey == 3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in plan and "n_nationkey" in plan

    from klepto_spark.sources.dsn import route
    kind, fmt, _ = route(f"orc:///{str(tmp_path).lstrip('/')}")
    assert (kind, fmt) == ("files", "orc")
