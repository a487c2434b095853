"""Physical-plan audit over every contract query.

`python -m klepto_spark.plans.audit [sf_dir] [out_md]` renders one table
row per `__spark_entry__.queries()` entry: shuffle count, broadcasts,
scan pushdown/pruning, whole-stage-codegen spans, Python eval nodes, and
top-k compilation — the plan properties SCALE.md claims, extracted from
the live executed plan so the claims stay checkable as the code moves.
`tests/test_plans.py` asserts the critical ones; this audit is the
whole-surface view.
"""

from __future__ import annotations

import sys


def _strip_cached_subtrees(plan: str) -> str:
    """Drop the stored plan under every InMemoryRelation: it's the
    DISPLAY of how the cache was built, not work this query re-executes
    (a cache hit scans the materialised relation).

    Two skip mechanisms, because cached builds render two ways:

    - a plain cached plan indents strictly under its InMemoryRelation
      line — the indent rule covers it;
    - a cached ADAPTIVE plan renders ``== Final Plan ==`` /
      ``== Initial Plan ==`` sections whose headers sit at a SHALLOWER
      indent than the InMemoryRelation line itself (measured on d15's
      plan: IMR at indent 84, its headers at 54), escaping the indent
      rule and leaking every cached exchange into the count — the
      round-14 audit briefly reported 46 shuffles for an 11-shuffle
      query. The top-level string passed here is a finalised physical
      plan and never contains those headers itself, so every header
      opens a cache-display section: track them as a stack, dropping
      lines until the text dedents back past the innermost header."""
    out: list[str] = []
    imr_skip: int | None = None
    sections: list[int] = []   # indents of open == ... Plan == headers
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" +-:*"))
        if "== Final Plan ==" in line or "== Initial Plan ==" in line \
                or "== Current Plan ==" in line:
            while sections and sections[-1] >= indent:
                sections.pop()
            sections.append(indent)
            continue
        if sections:
            if indent > sections[-1]:
                continue
            while sections and sections[-1] >= indent:
                sections.pop()
            if sections:
                continue
        if imr_skip is not None:
            if indent > imr_skip:
                continue
            imr_skip = None
        if "InMemoryRelation" in line:
            imr_skip = indent
        out.append(line)
    return "\n".join(out)


#: Arrow-vectorised Python eval operators (the repo bans row-at-a-time)
_PY_EVAL_NODES = {"ArrowEvalPythonExec", "BatchEvalPythonExec",
                  "MapInPandasExec", "FlatMapGroupsInPandasExec",
                  "FlatMapGroupsInPandasWithStateExec", "MapInArrowExec"}


def audit_tree(ep) -> dict:
    """Count plan properties by WALKING the JVM SparkPlan tree instead
    of regexing its string render. The string path broke on round 14's
    d15: a cached ADAPTIVE subplan renders ``== Final/Initial Plan ==``
    sections at a SHALLOWER indent than its InMemoryRelation line, so
    indent-based stripping leaked cached exchanges into the counts
    (46 reported vs 2 real). The tree has no such ambiguity: descend
    through adaptive wrappers and query stages via their ``plan``
    members (stages hide their subtree from ``children()``), stop at
    InMemoryTableScan (the cached build is display, not re-executed
    work — the suite's long-standing convention, e.g. d02 reports its
    post-cache plan), and never count ReusedExchange (a leaf pointing
    at an exchange already counted where it runs)."""
    out = {"shuffles": 0, "broadcasts": 0, "python_eval": 0, "topk": 0,
           "codegen_spans": 0, "pushed_filters": False,
           "partition_filters": False}

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "InMemoryTableScanExec":
            return
        if name == "AdaptiveSparkPlanExec":
            walk(node.finalPhysicalPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if name == "ShuffleExchangeExec":
            out["shuffles"] += 1
        elif name in ("BroadcastHashJoinExec",
                      "BroadcastNestedLoopJoinExec"):
            out["broadcasts"] += 1
        elif name in _PY_EVAL_NODES:
            out["python_eval"] += 1
        elif name == "TakeOrderedAndProjectExec":
            out["topk"] += 1
        elif name == "WholeStageCodegenExec":
            out["codegen_spans"] += 1
        elif name in ("FileSourceScanExec", "BatchScanExec"):
            # the metadata MAP, not simpleString: string renders clip at
            # spark.sql.maxMetadataStringLength (default 100), which
            # silently swallowed a30's long Or-pushed-filter
            md = node.metadata()
            for key, field in (("PushedFilters", "pushed_filters"),
                               ("PartitionFilters", "partition_filters")):
                opt = md.get(key)
                if opt.isDefined() and opt.get().strip("[] "):
                    out[field] = True
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(ep)
    return out


def audit_queries(spark, sf_dir: str) -> dict[str, dict]:
    import __spark_entry__ as entry
    rows = {}
    for name, fn in entry.queries().items():
        df = fn(spark, sf_dir)
        # execute (noop sink) so AQE finalises: the pre-execution plan
        # reports isFinalPlan=false with no codegen spans and no runtime
        # exchange reuse/coalescing
        df.write.format("noop").mode("overwrite").save()
        rows[name] = audit_tree(df._jdf.queryExecution().executedPlan())
    return rows


def render_md(rows: dict[str, dict], sf_dir: str) -> str:
    lines = [
        "# PLAN_AUDIT — physical-plan properties per contract query",
        "",
        f"Generated by `python -m klepto_spark.plans.audit` at `{sf_dir}`.",
        "Counts come from WALKING the executed (AQE-finalised) plan tree",
        "(since round 14 — the string render leaked cached-adaptive",
        "subplans into the counts). `shuffles` excludes broadcast and",
        "reused exchanges and stops at cache scans (a cached build is",
        "counted where it runs, not per consumer); `python` counts",
        "Arrow-vectorised eval nodes (the repo has no row-at-a-time UDFs).",
        "",
        "| query | shuffles | broadcast | codegen spans | python | top-k |"
        " pushed filters | partition pruning |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in sorted(rows):
        r = rows[name]
        lines.append(
            f"| {name} | {r['shuffles']} | {r['broadcasts']} |"
            f" {r['codegen_spans']} | {r['python_eval']} | {r['topk']} |"
            f" {'yes' if r['pushed_filters'] else '—'} |"
            f" {'yes' if r['partition_filters'] else '—'} |")
    total_sh = sum(r["shuffles"] for r in rows.values())
    total_py = sum(r["python_eval"] for r in rows.values())
    lines += [
        "",
        f"Totals: {len(rows)} queries, {total_sh} shuffles, "
        f"{total_py} Python eval nodes.",
    ]
    return "\n".join(lines) + "\n"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.md"
    from klepto_spark.session import get_spark
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = audit_queries(spark, sf_dir)
    text = render_md(rows, sf_dir)
    with open(out_md, "w", encoding="utf-8") as fh:
        fh.write(text)
    print(text)
    spark.stop()


if __name__ == "__main__":
    main()
