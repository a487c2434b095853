"""Seeded inputs: the steal catalog and the operator-query corpus.

The TPC-H tables come from DuckDB's bundled ``dbgen`` (deterministic for a
scale factor). The seed then draws the PII-shaped columns the anonymiser
and the redaction rules work on:

- ``customer.c_email``, ``supplier.s_email`` and ``orders.o_email``;
- ``orders.o_phone``, a dashed phone number;
- ``orders.o_note``, free text with embedded e-mail addresses, IPv4
  addresses and long digit runs.

The contract queries of the operator workload read a second directory
(``generate_ops``): ``documents``, a bag-of-words corpus (for the n-gram
repetition signals), and ``events``, a per-user event stream over one
month (for sessionization and the range join). Both follow the column
layout of the repository's test data.

Each table is one parquet file, ``<dir>/<table>.parquet``, the layout
``sources.catalog.FileCatalog`` and ``parquet_loader`` read. Small row
groups let Spark split the larger tables across all cores.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa

#: TPC-H scale factor of the generated catalog
SCALE = 0.01
#: bump when the generated data changes, so stale caches are not reused
VERSION = 4
#: dbgen's part and partsupp are left out: the spec does not use them
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
ROW_GROUP_ROWS = 16384
#: the operator-query corpus: documents and events
OPS_TABLES = ("documents", "events")
N_DOCS, N_EVENTS = 300, 1000

_WORDS = ("order", "parcel", "deliver", "refund", "call", "back", "late",
          "urgent", "box", "damaged", "address", "change", "please", "thanks",
          "customer", "asked", "invoice", "missing", "item", "gift")
_DOMAINS = ("example.com", "mail.org", "post.net", "corp.io", "shop.de")
_FIRST = ("anna", "bob", "chen", "dara", "eli", "fatima", "goran", "hana",
          "ivan", "jules", "kofi", "lena", "malik", "nora", "omar", "priya")
_LAST = ("smith", "garcia", "kim", "novak", "okafor", "rossi", "sato",
         "weber", "ali", "berg")
_VOCAB = ("the", "a", "data", "table", "row", "column", "join", "sort",
          "hash", "merge", "scan", "filter", "group", "agg", "window",
          "order", "line", "customer", "part", "key", "value", "query",
          "batch", "stream", "spark", "vector", "fast", "slow", "big",
          "small")
_LANGS = ("en", "de", "fr", "es", "zh")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _pick(rng: np.random.Generator, items, n: int) -> np.ndarray:
    return np.asarray(items, dtype=object)[rng.integers(0, len(items), n)]


def _emails(rng: np.random.Generator, n: int) -> list[str]:
    first, last = _pick(rng, _FIRST, n), _pick(rng, _LAST, n)
    num, dom = rng.integers(0, 1000, n), _pick(rng, _DOMAINS, n)
    return [f"{f}.{s}{k}@{d}" for f, s, k, d in zip(first, last, num, dom)]


def _phones(rng: np.random.Generator, n: int) -> list[str]:
    d = rng.integers(0, 10_000, (n, 3))
    return [f"+1-{a % 1000:03d}-{b % 1000:03d}-{c:04d}" for a, b, c in d]


def _notes(rng: np.random.Generator, n: int) -> list[str]:
    """Free text; about a third of the rows carry each PII shape."""
    words = _pick(rng, _WORDS, n * 6).reshape(n, 6)
    emails = _emails(rng, n)
    ips = rng.integers(1, 255, (n, 4))
    digits = rng.integers(10**6, 10**9, n)
    has = rng.random((n, 3)) < 0.35
    out = []
    for i in range(n):
        parts = [" ".join(words[i, :3])]
        if has[i, 0]:
            parts.append(f"mail {emails[i]}")
        if has[i, 1]:
            parts.append("from " + ".".join(str(x) for x in ips[i]))
        if has[i, 2]:
            parts.append(f"ref {digits[i]}")
        parts.append(" ".join(words[i, 3:]))
        out.append(" ".join(parts))
    return out


def _overlay(con, table: str, key: str, cols: dict[str, list[str]]) -> None:
    """Add seeded string columns to ``table``, row i matched by key rank i."""
    n = len(next(iter(cols.values())))
    extra = pa.table({"_rank": pa.array(np.arange(1, n + 1)),
                      **{c: pa.array(v, pa.string()) for c, v in cols.items()}})
    con.register("_extra", extra)
    con.execute(f"""
        CREATE OR REPLACE TABLE {table} AS
        SELECT t.* EXCLUDE (_rank), {", ".join(f"e.{c}" for c in cols)}
        FROM (SELECT *, row_number() OVER (ORDER BY {key}) AS _rank
              FROM {table}) t
        JOIN _extra e USING (_rank)
        ORDER BY t._rank""")
    con.unregister("_extra")


def generate(out_dir: str, seed: int, scale: float = SCALE) -> None:
    """Write the catalog for ``seed`` to ``out_dir`` (replaced if present)."""
    import duckdb

    rng = np.random.default_rng(seed)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CALL dbgen(sf={scale})")
        counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                  for t in ("customer", "supplier", "orders")}
        _overlay(con, "customer", "c_custkey",
                 {"c_email": _emails(rng, counts["customer"])})
        _overlay(con, "supplier", "s_suppkey",
                 {"s_email": _emails(rng, counts["supplier"])})
        n = counts["orders"]
        _overlay(con, "orders", "o_orderkey",
                 {"o_email": _emails(rng, n), "o_phone": _phones(rng, n),
                  "o_note": _notes(rng, n)})
        for t in TABLES:
            con.execute(f"COPY (SELECT * FROM {t}) TO '{tmp}/{t}.parquet' "
                        f"(FORMAT parquet, ROW_GROUP_SIZE {ROW_GROUP_ROWS})")
    finally:
        con.close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def ensure(cache_dir: str, seed: int) -> str:
    """The catalog directory for ``seed``, generated on first use."""
    path = os.path.join(cache_dir, f"v{VERSION}-sf{SCALE}-seed{seed}")
    if not os.path.isdir(path):
        generate(path, seed)
    return path


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents of 8 to 90 words from a small vocabulary, so n-grams
    repeat within a document."""
    texts = [" ".join(_pick(rng, _VOCAB, int(k)))
             for k in rng.integers(8, 91, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, _LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    """Events of 15 users over January 2024, at distinct microseconds, with
    two-decimal values (exact as DECIMAL(18,2) in both engines)."""
    span = 30 * 86_400 * 10**6
    offsets = np.unique(rng.integers(0, span, n))
    while len(offsets) < n:
        offsets = np.unique(np.concatenate(
            [offsets, rng.integers(0, span, n - len(offsets))]))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n), pa.int64()),
        "event_type": pa.array(_pick(rng, _EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def generate_ops(out_dir: str, seed: int, docs: int = N_DOCS,
                 events: int = N_EVENTS) -> None:
    """Write the operator-query corpus for ``seed`` to ``out_dir``."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(_documents(rng, docs), f"{tmp}/documents.parquet")
    pq.write_table(_events(rng, events), f"{tmp}/events.parquet")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def ensure_ops(cache_dir: str, seed: int) -> str:
    """The operator-query corpus directory for ``seed``, made on first use."""
    path = os.path.join(cache_dir, f"v{VERSION}-ops-seed{seed}")
    if not os.path.isdir(path):
        generate_ops(path, seed)
    return path
