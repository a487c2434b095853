"""Plan-quality assertions: the scale posture, proven on the plans.

These tests pin the physical properties the 100 TB design depends on —
if a refactor breaks pushdown, pruning, broadcast choice, or top-k
compilation, they fail even though results stay correct.
"""

from pyspark.sql import functions as F

import __spark_entry__ as entry
from klepto_spark.config import FilterSpec, Relationship, TableSpec
from klepto_spark.operators.pipeline import build_table_df, parquet_loader
from klepto_spark.plans import inspect as I


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    t = TableSpec(name="customer",
                  filter=FilterSpec(match="customer.c_acctbal > 1000"))
    df = build_table_df(t, parquet_loader(spark, sf_dir))
    assert any("c_acctbal" in f for f in I.pushed_filters(df))


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = (parquet_loader(spark, sf_dir)("lineitem")
          .select("l_orderkey", "l_quantity"))
    cols = I.scan_columns(df)
    assert cols and cols[0] == {"l_orderkey", "l_quantity"}


def test_semi_join_parent_is_broadcast_and_pruned(spark, sf_dir):
    t = TableSpec(
        name="orders",
        filter=FilterSpec(match="customer.c_mktsegment = 'BUILDING'"),
        relationships=[Relationship(foreign_key="o_custkey",
                                    referenced_table="customer",
                                    referenced_key="c_custkey")])
    df = build_table_df(t, parquet_loader(spark, sf_dir), join_strategy="semi")
    assert I.has_broadcast_join(df)
    # the parent scan reads only the join key + predicate column
    parent_scans = [c for c in I.scan_columns(df) if "c_custkey" in c]
    assert parent_scans and parent_scans[0] <= {"c_custkey", "c_mktsegment"}
    # a semi-join restriction is shuffle-free when the parent broadcasts
    assert I.shuffle_count(df) == 0


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    df = entry.queries()["k02_filter_topk"](spark, sf_dir)
    assert I.has_top_k(df)


def test_anonymise_stays_in_codegen(spark, sf_dir):
    """The anonymise projection must not break whole-stage codegen — it is
    pure built-in expressions (no Python UDFs in the hot path)."""
    df = entry.queries()["k05_anonymise"](spark, sf_dir)
    plan = I.executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert I.codegen_span_count(df) >= 1


def test_agg_uses_partial_aggregation(spark, sf_dir):
    df = entry.q_agg_pricing_summary(spark, sf_dir)
    plan = I.executed_plan(df)
    # partial (map-side) then final aggregate: one shuffle of partials only
    assert plan.count("HashAggregate") >= 2
    assert I.shuffle_count(df) <= 2


def test_events_rollup_pushes_nothing_to_python(spark, sf_dir):
    df = entry.q_events_rollup(spark, sf_dir)
    assert "Python" not in I.executed_plan(df)


def test_plan_report_shape(spark, sf_dir):
    rep = I.plan_report(
        entry.queries()["k03_restrict_semi"](spark, sf_dir))
    assert rep["broadcast_join"] is True
    assert isinstance(rep["shuffles"], int)


def test_sessionize_batch_single_shuffle_no_python(spark, sf_dir):
    """The session groupBy(user_id, _sid) must reuse the window's
    partitionBy(user_id) exchange — one shuffle total, all JVM-side."""
    df = entry.q_sessionize_batch(spark, sf_dir)
    assert I.shuffle_count(df) == 1
    assert "Python" not in I.executed_plan(df)


def test_moving_avg_single_window_single_shuffle(spark, sf_dir):
    """All three window functions (moving sum/count + lag) share one
    partitioning and ordering, so the plan must carry exactly ONE Window
    operator over ONE exchange — and the scan reads only the 4 columns
    the query touches."""
    df = entry.q_moving_avg(spark, sf_dir)
    plan = I.executed_plan(df)
    assert I.shuffle_count(df) == 1
    assert plan.count("+- Window ") == 1
    schema = I.read_schema(df) if hasattr(I, "read_schema") else plan
    for col in ("event_id", "ts", "user_id", "value"):
        assert col in schema
    assert "event_type" not in plan.split("ReadSchema")[-1]


def test_frame_plan_is_shuffle_free(spark, sf_dir):
    """Frame planning explodes metadata only — no shuffle, no payload."""
    df = entry.q_frame_plan(spark, sf_dir)
    assert I.shuffle_count(df) == 0


def test_ivf_index_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """The at-rest IVF path: probing must prune unprobed clusters AT THE
    SCAN (PartitionFilters + no unprobed files opened), and agree with the
    scan-everything in-flight form."""
    from klepto_spark.operators import similarity as S
    emb = parquet_loader(spark, sf_dir)("embeddings")
    dim = 64
    centroids = [[1.0 if j % 4 == c else 0.0 for j in range(dim)]
                 for c in range(4)]
    path = str(tmp_path / "ivf_index")
    S.ivf_write_index(emb, centroids, path)
    query = centroids[0]
    df = S.ivf_probe_index(spark, path, query, centroids, n_probe=2, k=5)
    # pruning is visible in the plan...
    pf = " ".join(I.partition_filters(df))
    assert "cluster" in pf
    # ...and in the files actually read (inputFiles() is relation-level
    # and ignores pruning; input_file_name() reflects it)
    probed = S._nearest_clusters(query, centroids, 2)
    scan = spark.read.parquet(path).filter(F.col("cluster").isin(probed))
    opened = [r[0] for r in
              scan.select(F.input_file_name()).distinct().collect()]
    assert opened and all(
        any(f"cluster={c}/" in f for c in probed) for f in opened)
    # same answer as the in-flight (full-scan) form
    at_rest = {(r.vec_id, r.score) for r in df.collect()}
    in_flight = {(r.vec_id, r.score)
                 for r in S.ivf_topk(emb, query, centroids,
                                     n_probe=2, k=5).collect()}
    assert at_rest == in_flight


def test_arrow_udf_ann_paths_evaluate_encode_once(spark, sf_dir):
    """A filter (or guard) over an Arrow-UDF-derived column must not
    collapse into a second ArrowEvalPython node: the encode UDF is the
    dominant per-row cost, and Catalyst happily duplicates it when a
    Filter and a Project both reference the collapsed expression
    (measured 2x wall-clock on the PQ-rerank and IVF-PQ queries)."""
    for q in ("s03_ivf_topk", "s05_pq_rerank", "s06_ivfpq_topk"):
        df = entry.queries()[q](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = plan.count("ArrowEvalPython")
        assert n <= 1, f"{q}: {n} ArrowEvalPython nodes (UDF re-evaluated)"


def test_semantic_dedup_broadcasts_duplicate_ids(spark, sf_dir):
    df = entry.queries()["d06_dedup_semantic"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_tfidf_and_boilerplate_are_single_corpus_scan(spark, sf_dir):
    """VERDICT r04 #4: tfidf_top_terms and strip_boilerplate used to pay a
    separate driver count() job for n_docs — one extra corpus pass per
    call at 100 TB. Both now derive N in-plan from the (doc, term)
    aggregate; exchange reuse must serve every consumer from ONE file
    scan in the AQE-final plan."""
    from klepto_spark.operators.text import strip_boilerplate, tfidf_top_terms
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for name, q in (("t09", tfidf_top_terms(docs, k=3)),
                    ("t11", strip_boilerplate(docs, max_df_ratio=0.6))):
        assert I.final_scan_count(q) == 1, name


def test_trigram_novelty_is_single_corpus_scan(spark, sf_dir):
    """t13 derives the corpus gram table, the top-k cut, AND the per-doc
    score from one exploded aggregate — exchange reuse must serve all
    consumers from ONE file scan (same discipline as t09/t11)."""
    from klepto_spark.operators.text import trigram_novelty
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert I.final_scan_count(trigram_novelty(docs, top_k=50)) == 1


def test_hybrid_rrf_has_no_single_partition_exchange(spark, sf_dir):
    """VERDICT r05 #2: s10's two global rank windows used to funnel the
    whole corpus through one task per leg (2x Exchange SinglePartition).
    Each leg is now cut to its top-M by a distributed
    TakeOrderedAndProject (per-partition heaps) before ranking, so the
    window input is <= M rows that are ALREADY single-partition — the
    executed plan must carry zero SinglePartition exchanges and at least
    three TakeOrderedAndProject nodes (two legs + the final top-10)."""
    df = entry.q_hybrid_rrf(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert plan.count("TakeOrderedAndProject") >= 3


def test_cross_dedup_indexed_probe_broadcasts_index(spark, sf_dir,
                                                    tmp_path):
    """d09's scale posture (VERDICT r07 #2): the at-rest held-out index
    is the SMALL side — its distinct bands (and its keys, for pair
    orientation) must arrive by broadcast, and the train side must never
    cartesian-join it. An index-side shuffle would re-pay the held-out
    corpus on every recurring decontamination run."""
    from klepto_spark.operators import dedup

    docs = parquet_loader(spark, sf_dir)("documents")
    idx = str(tmp_path / "d09idx")
    dedup.minhash_write_index(docs.filter("doc_id >= 400"), idx)
    out = dedup.cross_corpus_pairs_indexed(
        spark, idx, docs.filter("doc_id < 400"))
    plan = I.executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_semantic_append_probe_broadcasts_batch_semi_scans_index(
        spark, sf_dir, tmp_path):
    """d10's scale posture (VERDICT r07 #2): the arriving batch's
    distinct signatures broadcast as the probe and the at-rest index is
    scanned ONCE through a broadcast left-semi — no index shuffle, no
    re-embedding, and the verify join reads vectors from index rows
    (the corpus table is never reopened). Twin of the minhash_append
    pin in test_packing_mixture.py."""
    from klepto_spark.operators import dedup

    emb = parquet_loader(spark, sf_dir)("embeddings")
    idx = str(tmp_path / "d10idx")
    dedup.semantic_write_index(emb.filter("vec_id % 5 != 0"), idx,
                               key_col="vec_id", dim=64)
    out = dedup.semantic_append(spark, idx,
                                emb.filter("vec_id % 5 = 0"), 0.6,
                                key_col="vec_id", dim=64, commit=False)
    plan = I.executed_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_token_budget_single_exchange_pruned_scan(spark, sf_dir):
    """p06's scale posture: ONE shuffle (the per-stratum running-sum
    window), no Python, and the scan reads only the 3 columns the
    projected query touches — the stratum sort carries counters, never
    extra body columns."""
    df = entry.q_token_budget(spark, sf_dir)
    plan = I.executed_plan(df)
    assert I.shuffle_count(df) == 1
    assert plan.count("+- Window ") == 1
    assert "Python" not in plan
    assert "lang" not in plan.split("ReadSchema")[-1]
    assert "n_chars" not in plan.split("ReadSchema")[-1]


def test_gopher_signals_partial_aggregation_no_python(spark, sf_dir):
    """t15: both n-gram subtrees must partial-aggregate (map-side
    combine) so the shuffles carry per-doc n-gram counts, and the whole
    query stays JVM-side with no nested-loop join anywhere."""
    df = entry.q_gopher_signals(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_exact_append_probe_plan_shape(spark, sf_dir, tmp_path):
    """d11's scale posture: the batch's distinct fingerprints broadcast,
    the at-rest index is scanned once through a broadcast LeftSemi, and
    nothing degenerates to a nested loop — the exact twin of the
    minhash_append / semantic_append pins."""
    from klepto_spark.operators import dedup

    docs = parquet_loader(spark, sf_dir)("documents")
    idx = str(tmp_path / "d11idx")
    dedup.exact_write_index(docs.filter("doc_id % 5 != 0"), idx,
                            prefix_words=8)
    out = dedup.exact_append(spark, idx, docs.filter("doc_id % 5 = 0"),
                             prefix_words=8, commit=False)
    plan = I.executed_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_nation_profit_five_way_join_plan(spark, sf_dir):
    """a33 (TPC-H Q9 shape): the five-relation join must scan lineitem
    exactly ONCE and only its five needed columns (pruning survives the
    join chain), broadcast the part/supplier/nation dimension chain, and
    never fall back to a nested loop or cartesian product. The filter on
    p_name must reach the part scan as a pushed filter."""
    df = entry.q_nation_profit(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert I.has_broadcast_join(df)
    li_scans = [c for c in I.scan_columns(df) if "l_orderkey" in c]
    assert len(li_scans) == 1, li_scans
    assert li_scans[0] <= {"l_orderkey", "l_partkey", "l_suppkey",
                           "l_quantity", "l_extendedprice", "l_discount"}
    # the selective part predicate is pushed to the part scan
    assert any("p_name" in f for f in I.pushed_filters(df))
    # orders scan pruned to the two needed columns
    o_scans = [c for c in I.scan_columns(df) if "o_orderkey" in c]
    assert o_scans and o_scans[0] <= {"o_orderkey", "o_orderdate"}


def test_nation_trade_six_way_join_plan(spark, sf_dir):
    """a34 (TPC-H Q7 shape): six relations (nation twice), one pruned
    lineitem scan, the 2-nation entity projections broadcast, the pair
    disjunction decorrelated to membership + residual inequality — and
    never a nested loop."""
    df = entry.q_nation_trade(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert I.has_broadcast_join(df)
    li_scans = [c for c in I.scan_columns(df) if "l_shipdate" in c]
    assert len(li_scans) == 1, li_scans
    assert li_scans[0] <= {"l_orderkey", "l_suppkey", "l_shipdate",
                           "l_extendedprice", "l_discount"}
    # the nation-pair restriction reaches the nation scan
    assert any("n_name" in f for f in I.pushed_filters(df))


def test_waiting_suppliers_single_lineitem_scan(spark, sf_dir):
    """a35 (TPC-H Q21 shape): the EXISTS + NOT EXISTS pair must
    decorrelate to ONE (order, supplier) aggregate over ONE lineitem
    scan — the persisted frame feeds both its own rollup and the
    qualifying filter, so the plan shows a single lineitem relation
    (InMemoryTableScan carries the reuse) and no nested loop. The
    o_orderstatus predicate is pushed to the orders scan."""
    df = entry.q_waiting_suppliers(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    li_scans = [c for c in I.scan_columns(df) if "l_shipdate" in c
                or "l_suppkey" in c]
    assert len(li_scans) <= 1, li_scans
    assert any("o_orderstatus" in f for f in I.pushed_filters(df))
    assert I.has_top_k(df)


def test_market_share_eight_way_join_plan(spark, sf_dir):
    """a36 (TPC-H Q8 shape): eight relation instances, one pruned
    lineitem scan, the PROMO part restriction as a broadcast LEFT SEMI
    into that scan, pushed p_type/r_name filters, no nested loop."""
    df = entry.q_market_share(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert I.has_broadcast_join(df)
    assert "LeftSemi" in plan
    li_scans = [c for c in I.scan_columns(df) if "l_extendedprice" in c]
    assert len(li_scans) == 1, li_scans
    assert li_scans[0] <= {"l_orderkey", "l_partkey", "l_suppkey",
                           "l_extendedprice", "l_discount"}
    pushed = I.pushed_filters(df)
    assert any("p_type" in f for f in pushed)
    assert any("r_name" in f for f in pushed)


def test_local_supplier_revenue_residual_plan(spark, sf_dir):
    """a37 (TPC-H Q5 shape): the cross-arm equality (customer nation ==
    supplier nation) must run as a residual on hash joins — never a
    nested loop — with one pruned lineitem scan and the region/year
    filters pushed to their scans."""
    df = entry.q_local_supplier_revenue(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert I.has_broadcast_join(df)
    li_scans = [c for c in I.scan_columns(df) if "l_extendedprice" in c]
    assert len(li_scans) == 1, li_scans
    assert li_scans[0] <= {"l_orderkey", "l_suppkey",
                           "l_extendedprice", "l_discount"}
    pushed = I.pushed_filters(df)
    assert any("r_name" in f for f in pushed)
    assert any("o_orderdate" in f for f in pushed)


def test_idle_balances_threshold_plan(spark, sf_dir):
    """a38 (TPC-H Q22 shape): the scalar threshold is ONE single-row
    aggregate broadcast back (a 1-row crossJoin, not a nested loop over
    customers), the never-ordered test is a broadcast/shuffle anti-join
    on the orders KEY column only, and no cartesian product exists."""
    df = entry.q_idle_balances(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    o_scans = [c for c in I.scan_columns(df) if "o_custkey" in c]
    assert o_scans and o_scans[0] <= {"o_custkey", "o_orderdate"}, o_scans
    pushed = I.pushed_filters(df)
    assert any("c_acctbal" in f for f in pushed)
    assert any("o_orderdate" in f for f in pushed)


def test_bloom_probe_broadcasts_index(spark, sf_dir):
    """t23: the membership probe must broadcast the BOUNDED bit index
    into the batch's k-row expansion (cost follows the batch, never the
    indexed corpus) and contain no cartesian product. The probe-half
    predicate is an OR of modulo terms, which parquet cannot evaluate —
    so the pushdown assertion pins what IS pushable: the null guards on
    the probed value and the index's bit column."""
    df = entry.q_bloom_decontaminate(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert I.has_broadcast_join(df)
    pushed = I.pushed_filters(df)
    assert any("text" in f for f in pushed)
    assert any("bloom_bit" in f for f in pushed)


def test_priority_late_orders_semi_join_no_nested_loop(spark, sf_dir):
    """a23: the correlated EXISTS with a cross-table inequality must
    compile to ONE semi hash join with the inequality as a residual —
    never a nested loop."""
    df = entry.q_priority_late_orders(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_skewed_hot_key_two_phase_salted_plan(spark, sf_dir):
    """a39: the hot key must cross the wire SPREAD over salt values —
    the partial-aggregate exchange carries _salt (one hot key lands on
    A39_BUCKETS reducers, not 1), the merge exchange drops it, and the
    dimension join is keyed on (hot_key, _salt). Never a nested loop,
    and salting never changes values (the DuckDB oracle is the PLAIN
    join + group by)."""
    import re
    df = entry.q_skewed_hot_key(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    ex = I.exchange_inputs(df)
    assert any("_salt" in x for x in ex), ex
    assert any("_salt" not in x and "hot_key" in x for x in ex), ex
    assert re.search(r"Join \[hot_key#\d+L?, _salt", plan), plan[:800]


def test_grouped_topk_no_window_no_fact_sort(spark, sf_dir):
    """a40: per-group top-k must compile to an ObjectHashAggregate over
    a plain hash shuffle — NO Window operator anywhere, and the only
    Sort is the presentation ordering of the k·groups result ABOVE the
    aggregate. The fact table is never partition-sorted (the window
    idiom's hidden cost at 100 TB). Scan pruned to the three needed
    columns."""
    import re
    df = entry.q_grouped_topk(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan
    sorts = [m.start() for m in re.finditer(r"\bSort \[", plan)]
    assert len(sorts) == 1, plan[:800]
    assert sorts[0] < plan.index("ObjectHashAggregate")
    assert I.scan_columns(df)[0] == {"o_custkey", "o_orderkey",
                                     "o_totalprice"}


def test_prefix_join_hashes_shuffle_not_text(spark, sf_dir):
    """d15: the AllPairs prefix join's scale posture — after the one
    fan_out spread of the raw docs, every exchange carries md5 hashes,
    counts, and ids, never the document text; candidates come from an
    equi-join (no nested loop anywhere), and the scan is pruned to
    (doc_id, text)."""
    # earlier tests may have persisted this query's frames; a cache hit
    # would replace the scan under test with an InMemoryRelation
    spark.catalog.clearCache()
    df = entry.q_jaccard_prefix_join(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Python" not in plan
    text_crossings = sum(1 for ex in I.exchange_inputs(df)
                         if "text" in [c.split("#")[0]
                                       for c in ex.split(", ")])
    assert text_crossings <= 1, I.exchange_inputs(df)
    assert I.scan_columns(df)[0] == {"doc_id", "text"}


def test_cms_probe_broadcasts_bounded_sketch(spark, sf_dir):
    """t24: the folded counter matrix (<= d·w rows) must BROADCAST into
    the probe's d-row expansion — the sketch's whole point is that
    probe cost follows the batch, never the counted stream. No nested
    loop, no Python, and the only scans are the pruned documents
    reads."""
    df = entry.q_cms_frequency(spark, sf_dir)
    plan = I.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Python" not in plan
    assert I.has_broadcast_join(df)
    for cols in I.scan_columns(df):
        assert cols <= {"doc_id", "text"}, cols
