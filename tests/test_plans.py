"""Physical-plan assertions — the 100 TB posture, pinned.

These don't check answers (the oracle gate does); they check that Catalyst
produces the plan SHAPE each operator's docstring promises: dimension joins
broadcast (never shuffle the fact), kernel range reads push tag equality AND
the raw-ns time range into the parquet scan, and the hot paths contain no
row-at-a-time Python.
"""

from pyspark.sql import DataFrame

from kdb_spark.analytics import joins as jn
from kdb_spark.analytics import kernel as kn
from kdb_spark.tables import events_us, load
from tests.conftest import SF_DIR

T_JAN10 = 1_704_844_800_000_000
T_JAN12 = 1_705_017_600_000_000


def plan_of(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_enrich_join_is_all_broadcast(spark):
    df = jn.join_enrich_broadcast(
        load(spark, SF_DIR, "orders"),
        load(spark, SF_DIR, "customer"),
        load(spark, SF_DIR, "nation"),
        load(spark, SF_DIR, "region"),
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact is never shuffled for a join


def test_multiway_has_one_shuffle_join_side(spark):
    df = jn.join_multiway(
        load(spark, SF_DIR, "customer"),
        load(spark, SF_DIR, "orders"),
        load(spark, SF_DIR, "lineitem"),
        load(spark, SF_DIR, "supplier"),
        load(spark, SF_DIR, "nation"),
        load(spark, SF_DIR, "region"),
    )
    plan = plan_of(df)
    # every dimension path broadcast; only the fact-fact join may shuffle
    assert plan.count("BroadcastHashJoin") >= 3


def test_kernel_range_read_pushes_filters_to_scan(spark):
    df = kn.series_filter(events_us(spark, SF_DIR), 7, "click", T_JAN10, T_JAN12)
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    line = pushed[0]
    assert "EqualTo(user_id,7)" in line
    assert "EqualTo(event_type,click)" in line
    # the raw-ts range reaches the scan (row-group skipping on ts stats),
    # whatever the physical type of `ts` (ns-long or timestamp[us])
    assert "GreaterThanOrEqual(ts," in line
    assert "LessThan(ts," in line


def test_get_dense_is_joinless_single_exchange(spark):
    """LWW + zero-fill fuse into ONE max_by aggregate over data UNION spine:
    no join operator anywhere, exactly one Exchange (keyed on slot)."""
    df = kn.get_dense(events_us(spark, SF_DIR), spark, 7, "view", T_JAN10, T_JAN12)
    import re

    plan = plan_of(df)
    assert "Join" not in plan, plan
    # formatted explain shows each node in the tree AND a detail section;
    # count the numbered detail headers to count physical Exchange nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Union" in plan
    assert "InMemoryTableScan" not in plan  # no driver materialization


def test_find_dense_grid_has_no_nested_loop(spark):
    """The |series| x |slots| grid is explode-generated map-side —
    no BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan."""
    df = kn.find_dense(
        events_us(spark, SF_DIR), spark, 7, None, T_JAN10, T_JAN12
    )
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the explode(sequence(...)) grid


def test_curation_ops_are_map_only(spark):
    """dataset_split / pii_redact are single-pass JVM expressions: no
    shuffle (Exchange), no Python worker (ArrowEvalPython/BatchEvalPython)
    anywhere in the plan — at 100 TB they pipeline into the scan."""
    from kdb_spark.llm import curation as cu

    docs = load(spark, SF_DIR, "documents")
    for df in (cu.dataset_split(docs), cu.pii_redact(docs), cu.sample_hash(docs, 10)):
        plan = plan_of(df)
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan, plan


def test_dataset_split_is_partitioning_invariant(spark):
    """The split must not move documents when the input is repartitioned —
    the property that makes an md5-keyed split safe to recompute anywhere
    (unlike randomSplit)."""
    from kdb_spark.llm import curation as cu

    docs = load(spark, SF_DIR, "documents").limit(200)
    a = {r.doc_id: r.split for r in cu.dataset_split(docs).collect()}
    b = {
        r.doc_id: r.split
        for r in cu.dataset_split(docs.repartition(7)).collect()
    }
    assert a == b and len(a) == 200
    assert {"train", "val", "test"} >= set(a.values())


def test_text_normalize_and_sample_are_map_only(spark):
    """text_normalize / stratified_sample are single-pass JVM expressions —
    same no-shuffle/no-Python contract as the other curation ops."""
    from kdb_spark.llm import curation as cu
    from kdb_spark.llm import textstats as tx

    docs = load(spark, SF_DIR, "documents")
    for df in (tx.text_normalize(docs), cu.stratified_sample(docs)):
        plan = plan_of(df)
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan, plan


def test_pack_sequences_contract(spark):
    """Packing is deterministic under repartitioning, packs never start
    past the budget boundary mid-doc (concatenate-and-chunk: each doc's
    start offset is its bucket-cumsum), and offsets stay below budget."""
    from kdb_spark.llm import curation as cu

    docs = load(spark, SF_DIR, "documents").limit(300)
    a = {r.doc_id: (r.pack_id, r.pack_offset) for r in cu.pack_sequences(docs).collect()}
    b = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in cu.pack_sequences(docs.repartition(5)).collect()
    }
    assert a == b and len(a) == 300
    assert all(0 <= off < 256 for _, off in a.values())
    # exactly one window shuffle (the per-bucket cumsum), nothing else
    plan = plan_of(cu.pack_sequences(docs))
    assert plan.count("Exchange") <= 2, plan  # hashpartition + AQE read at most
    assert "EvalPython" not in plan, plan


def test_token_histogram_bins_are_powers_of_two(spark):
    from kdb_spark.llm import textstats as tx

    docs = load(spark, SF_DIR, "documents")
    rows = tx.token_histogram(docs).collect()
    assert rows
    total_docs = sum(r.n_docs for r in rows)
    assert total_docs == docs.count()
    for r in rows:
        assert r.bin_lo >= 1 and (r.bin_lo & (r.bin_lo - 1)) == 0, r


def test_chunk_documents_is_map_only_and_covers_all_tokens(spark):
    """Chunking is explode-over-sequence map-side (no shuffle, no Python);
    strided chunks with overlap reconstruct every token position."""
    from kdb_spark.llm import curation as cu
    from kdb_spark.llm.dedup import tokens as tok_expr

    docs = load(spark, SF_DIR, "documents")
    df = cu.chunk_documents(docs)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Generate" in plan  # the explode(sequence(...)) chunk fan-out

    import pyspark.sql.functions as F

    sample = docs.limit(50)
    n_tok = {r.doc_id: r.n for r in sample.select("doc_id", F.size(tok_expr("text")).alias("n")).collect()}
    got = cu.chunk_documents(sample).collect()
    by_doc: dict = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        # strides of 56, last chunk is the remainder, sizes match the doc
        assert chunks[0].chunk_id == 0
        for i, c in enumerate(chunks):
            assert c.chunk_id == i
            assert c.n_tok_chunk == min(n_tok[doc_id] - i * 56, 64)
        assert sum(1 for _ in chunks) == max(1, -(-(n_tok[doc_id] - 8) // 56))


def test_near_dup_family_never_goes_all_pairs(spark):
    """Every near-dup / decontamination candidate generator is an equi-join
    on hashed keys (bands, buckets, shingles) — the 100 TB contract is that
    NO plan contains a cartesian or nested-loop join, and the whole family
    stays JVM-side (no Python eval in any hot path)."""
    from kdb_spark.llm import curation as cu
    from kdb_spark.llm import dedup as dd

    docs = load(spark, SF_DIR, "documents")
    for df in (
        dd.dedup_ngram_jaccard(docs),
        dd.dedup_near_minhash(docs),
        dd.dedup_simhash(docs),
        dd.dedup_cross_corpus(docs),
        cu.decontaminate(docs),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "EvalPython" not in plan, plan


def test_ngram_jaccard_is_single_shuffle(spark):
    """The pair generator's only Exchange is the one groupBy(shingle-hash);
    pair combinations explode map-side and re-aggregate on the already-
    produced (small) pair stream. Three-shuffle self-join shapes are the
    regression this pins against."""
    from kdb_spark.llm import dedup as dd

    docs = load(spark, SF_DIR, "documents")
    import re

    plan = plan_of(dd.dedup_ngram_jaccard(docs))
    # one exchange for groupBy(s), one for groupBy(doc_a, doc_b, ...) over
    # the exploded pairs — and no join at all (formatted plans print each
    # node twice: tree + detail; count the "(n) Exchange" detail entries)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "Join" not in plan, plan


def test_skew_salted_two_path(spark):
    """Two-path salting: with no hot keys the plan replicates nothing (no
    Generate from explode(sequence)); with the threshold forced to 1 every
    key takes the salted path and the result still equals the plain equi
    join — the salting machinery changes the plan, never the answer."""
    import kdb_spark.analytics.joins as jn

    li = load(spark, SF_DIR, "lineitem")
    od = load(spark, SF_DIR, "orders")
    forced = jn.join_skew_salted(li, od, hot_threshold=1)
    assert "Generate" in plan_of(forced)  # build-side replication present
    want = {
        r.o_orderpriority: (r.n_items, r.revenue_c)
        for r in jn.join_equi_shuffle(li, od).collect()
    }
    got = {
        r.o_orderpriority: (r.n_items, r.revenue_c) for r in forced.collect()
    }
    assert got == want


def test_ewma_is_single_window_pass(spark):
    """The trailing-frame collect_list fold compiles into ONE Window node
    and ONE Exchange — the EWMA never re-shuffles (r14: array fold
    replaced the 16-lag chain; plan shape unchanged)."""
    import re

    from kdb_spark.analytics import windows as wn

    plan = plan_of(wn.win_ewma(events_us(spark, SF_DIR)))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_zscore_is_single_window_pass(spark):
    import re

    from kdb_spark.analytics import windows as wn

    plan = plan_of(wn.win_zscore(events_us(spark, SF_DIR)))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_join_nearest_has_no_join_operator(spark):
    """The nearest-time join is union-and-carry: window carries, a map-only
    pick, and NO join node (the naive form would be a per-probe range join)."""
    plan = plan_of(jn.join_nearest(events_us(spark, SF_DIR)))
    assert "Join" not in plan, plan
    assert "Union" in plan


def test_count_min_probe_side_broadcasts(spark):
    """The 256-cell sketch broadcasts onto the top-k probe rows — the probe
    join must never shuffle the sketch or fall into a nested loop."""
    from kdb_spark.analytics import aggregations as agg

    plan = plan_of(agg.agg_count_min(events_us(spark, SF_DIR)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_table_profile_expand_pass_is_hash_aggregate(spark):
    """r16 shape: the multi-countDistinct Expand pass must plan as a pure
    two-phase HASH aggregate — folding lexical string min/max into it
    demoted the whole expand chain to SortAggregate (a full sort of
    (n_cols+1)·|rows| expanded rows). String min/max run as a second,
    grouping-free pass whose 1-row result cross-joins back via broadcast:
    exactly 2 scans, exactly 1 Expand, no Sort anywhere, and every
    SortAggregate is on the (sort-free, grouping-less) string branch."""
    from kdb_spark.analytics import aggregations as agg

    import re

    plan = plan_of(agg.table_profile(load(spark, SF_DIR, "orders")))
    # formatted explain prints each node in the tree AND as a detail header;
    # count the numbered detail headers to count physical nodes
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    # the expand pass is hash-aggregated and NOTHING in the plan sorts
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0, plan
    # the only join is the broadcast cross of the two 1-row aggregates
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 1, plan
    assert "BroadcastNestedLoopJoin Cross" in plan, plan


def test_text_repetition_is_map_only(spark):
    from kdb_spark.llm import textstats as tx

    plan = plan_of(tx.text_repetition(load(spark, SF_DIR, "documents")))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan  # JVM lambdas, no Python in the path


def test_pipeline_corpus_prep_is_two_exchanges(spark):
    """Normalize + quality gate + split are map-only and must FUSE into the
    scan's projection: the whole prep plan is the content-hash shuffle plus
    the |splits|-row aggregate — two Exchanges, one scan, no joins."""
    import re

    from kdb_spark.llm import curation as cu

    plan = plan_of(cu.pipeline_corpus_prep(load(spark, SF_DIR, "documents")))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_funnel_is_single_exchange(spark):
    """Three chained conditional-min windows share the user partitioning —
    Catalyst must plan them over ONE Exchange (plus the final user agg
    reusing it), never re-shuffling per stage."""
    import re

    from kdb_spark.analytics import behavior as bh

    plan = plan_of(bh.agg_funnel(events_us(spark, SF_DIR)))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_ivf_index_scan_prunes_partitions(spark):
    """The persisted IVF index must be probed via DIRECTORY-level partition
    pruning: the read-back scan's PartitionFilters carries the cid
    predicate (so unprobed inverted lists are never listed or read), and
    the pruned scan reads fewer partitions than the index holds."""
    import tempfile

    from kdb_spark.llm import similarity as sim
    from kdb_spark.tables import load

    idx = tempfile.mkdtemp(prefix="kdbs_ivfidx_test_")
    out = sim.ivf_index_search(load(spark, SF_DIR, "embeddings"), idx)
    plan = plan_of(out)
    assert "PartitionFilters" in plan, plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cid" in pf, plan  # the probe predicate prunes at listing time
    # result parity with the in-memory IVF search on the same corpus
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        tuple(r) for r in sim.ivf_search_topk(load(spark, SF_DIR, "embeddings")).collect()
    )
    assert got == want


def test_sql_text_queries_push_filters_and_take_ordered(spark):
    """The Q3/Q10-shaped SQL entries promise raw-literal predicates that
    reach every parquet scan and a TakeOrderedAndProject top-k (no global
    sort)."""
    from kdb_spark.analytics import aggregations as agg

    q3 = agg.sql_ship_priority(
        load(spark, SF_DIR, "customer"),
        load(spark, SF_DIR, "orders"),
        load(spark, SF_DIR, "lineitem"),
    )
    plan = plan_of(q3)
    assert "TakeOrderedAndProject" in plan and "Sort " not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan

    q10 = agg.sql_returned_customers(
        load(spark, SF_DIR, "customer"),
        load(spark, SF_DIR, "orders"),
        load(spark, SF_DIR, "lineitem"),
        load(spark, SF_DIR, "nation"),
    )
    plan = plan_of(q10)
    assert "TakeOrderedAndProject" in plan and "Sort " not in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan and "LessThan(o_orderdate" in plan


def test_assoc_rules_item_counts_broadcast(spark):
    """agg_assoc_rules promises the per-item count table broadcasts to the
    pair table (|parts| << |pairs|) and the top-k is TakeOrderedAndProject."""
    from kdb_spark.analytics import behavior as agg

    df = agg.agg_assoc_rules(
        load(spark, SF_DIR, "orders"), load(spark, SF_DIR, "lineitem")
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_sql_scan_agg_queries_push_all_predicates(spark):
    """Q6/Q19-shaped queries promise every scan-evaluable conjunct reaches
    the parquet scan as a PushedFilter and the scan prunes to the
    referenced columns only."""
    from kdb_spark.analytics import aggregations as agg

    q6 = agg.sql_forecast_revenue(load(spark, SF_DIR, "lineitem"))
    plan = plan_of(q6)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    # column pruning: the scan schema carries the 4 referenced cols only
    import re

    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert sorted(c.split(":")[0] for c in rs.split(",")) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate",
    ], plan

    q19 = agg.sql_bracketed_revenue(
        load(spark, SF_DIR, "lineitem"), load(spark, SF_DIR, "part")
    )
    plan = plan_of(q19)
    # the disjunction spans both tables, but each side's derivable
    # envelope still pushes: part gets an Or filter, the join broadcasts
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "Or(And(EqualTo(p_brand,Brand#12)" in plan


def test_sql_join_agg_queries_broadcast_dims(spark):
    """Q7/Q8/Q14-shaped queries promise dimensions broadcast (the fact
    table is never shuffled for a dimension join)."""
    from kdb_spark.analytics import aggregations as agg

    q7 = agg.sql_nation_volume(
        load(spark, SF_DIR, "lineitem"), load(spark, SF_DIR, "orders"),
        load(spark, SF_DIR, "customer"), load(spark, SF_DIR, "supplier"),
        load(spark, SF_DIR, "nation"),
    )
    plan = plan_of(q7)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # shipdate range pushed into the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in plan

    q14 = agg.sql_promo_revenue(
        load(spark, SF_DIR, "lineitem"), load(spark, SF_DIR, "part")
    )
    plan = plan_of(q14)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_sql_large_orders_is_take_ordered(spark):
    """Q18's top-100 must be TakeOrderedAndProject (no global sort), with
    the quantity rollup aggregated before any join."""
    from kdb_spark.analytics import aggregations as agg

    df = agg.sql_large_orders(
        load(spark, SF_DIR, "customer"), load(spark, SF_DIR, "orders"),
        load(spark, SF_DIR, "lineitem"),
    )
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan and "Sort " not in plan


def test_sql_idle_rich_customers_plans_anti_join(spark):
    """Q22's NOT EXISTS must plan as an anti join with the order-date
    recency filter pushed into the orders scan (partition-prunable at
    scale), never as a per-row subquery."""
    from kdb_spark.analytics import aggregations as agg

    df = agg.sql_idle_rich_customers(
        load(spark, SF_DIR, "customer"), load(spark, SF_DIR, "orders")
    )
    plan = plan_of(df)
    assert "LeftAnti" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_sql_late_orders_plans_semi_join(spark):
    """Q4's correlated EXISTS must decorrelate to a LEFT SEMI join on
    orderkey with the quarter predicate pushed into the orders scan —
    never a per-row subquery."""
    from kdb_spark.analytics import aggregations as agg

    df = agg.sql_late_orders(
        load(spark, SF_DIR, "orders"), load(spark, SF_DIR, "lineitem")
    )
    plan = plan_of(df)
    assert "LeftSemi" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan and "LessThan(o_orderdate" in plan


def test_sql_q12_q13_q21_shapes(spark):
    """Q12: the shipdate-year predicate reaches the lineitem scan. Q13:
    the join is LeftOuter (zero-order customers counted). Q21: the top-10
    is TakeOrderedAndProject, no global sort."""
    from kdb_spark.analytics import aggregations as agg

    q12 = agg.sql_priority_lines(
        load(spark, SF_DIR, "orders"), load(spark, SF_DIR, "lineitem")
    )
    plan = plan_of(q12)
    assert "GreaterThanOrEqual(l_shipdate" in plan and "LessThan(l_shipdate" in plan

    q13 = agg.sql_cust_distribution(
        load(spark, SF_DIR, "customer"), load(spark, SF_DIR, "orders")
    )
    assert "LeftOuter" in plan_of(q13)

    q21 = agg.sql_waiting_supplier(
        load(spark, SF_DIR, "supplier"), load(spark, SF_DIR, "lineitem")
    )
    plan = plan_of(q21)
    assert "TakeOrderedAndProject" in plan and "Sort " not in plan


def test_pagerank_no_broadcast_path_shape(spark):
    """broadcast_ranks=False is the |V|-beyond-broadcast posture: the
    per-round message joins and the final out-degree decoration must plan
    as shuffle-hash joins with ZERO BroadcastHashJoin anywhere (the scalar
    N is a driver-collected literal — bounded at any graph scale). The
    default path keeps its broadcast message join."""
    from kdb_spark.analytics import graph as gr
    from kdb_spark.llm.dedup import _REUSE_CACHE

    from pyspark.sql import functions as F

    for k in ("pagerank_edges", "pagerank_contrib", "pagerank_contrib_hashed",
              "pagerank_base"):
        _REUSE_CACHE.pop(k, None)
    # join-free edge lineage (a trade_graph build would broadcast its own
    # orders⋈lineitem at test scale and pollute the assertion): a ring
    # plus chords, every vertex with out-degree >= 1
    edges = spark.range(200).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 200).alias("dst")
    ).unionAll(
        spark.range(200).select(
            F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 200).alias("dst")
        )
    )
    plan = plan_of(gr.pagerank(edges, iters=2, broadcast_ranks=False))
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    for k in ("pagerank_edges", "pagerank_contrib", "pagerank_contrib_hashed",
              "pagerank_base"):
        _REUSE_CACHE.pop(k, None)
    plan_b = plan_of(gr.pagerank(edges, iters=2, broadcast_ranks=True))
    assert "BroadcastHashJoin" in plan_b
    for k in ("pagerank_edges", "pagerank_contrib", "pagerank_contrib_hashed",
              "pagerank_base"):
        _REUSE_CACHE.pop(k, None)


def test_pagerank_paths_agree_exactly(spark):
    """The broadcast and pre-hashed message-join paths return IDENTICAL
    rounded ranks on the sf trade graph — the property the scale swap
    must preserve (join strategy reroutes rows; it must not change
    answers)."""
    from kdb_spark.analytics import graph as gr
    from kdb_spark.llm.dedup import _REUSE_CACHE

    edges = gr.trade_graph(
        load(spark, SF_DIR, "orders"), load(spark, SF_DIR, "lineitem")
    )
    a = {(r.v, r.rank, r.out_deg)
         for r in gr.pagerank(edges, iters=3, broadcast_ranks=True).collect()}
    b = {(r.v, r.rank, r.out_deg)
         for r in gr.pagerank(edges, iters=3, broadcast_ranks=False).collect()}
    assert a == b and len(a) > 0
    for k in ("pagerank_edges", "pagerank_contrib", "pagerank_contrib_hashed",
              "pagerank_base"):
        _REUSE_CACHE.pop(k, None)


def test_round13_ops_plan_shapes(spark):
    """win_gap_open: ONE Exchange total (the explicit repartition serves
    both the day collapse and the day-lag window). text_char_classes:
    map-only — no Exchange at all. agg_flow_imbalance: no BroadcastNestedLoop
    (pure lag + hash agg)."""
    from kdb_spark.analytics import aggregations as agg
    from kdb_spark.llm import textstats as tx

    import re

    from kdb_spark.analytics import windows as wn

    ev = events_us(spark, SF_DIR)
    plan = plan_of(wn.win_gap_open(ev))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    plan = plan_of(tx.text_char_classes(load(spark, SF_DIR, "documents")))
    assert "Exchange" not in plan, plan
    plan = plan_of(agg.agg_flow_imbalance(ev))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_round13_wave2plus_plan_shapes(spark):
    """win_seasonal_naive: ONE Exchange (the explicit repartition serves
    slot-day collapse + slot lag). agg_volume_profile: the first
    Exchange carries the (type, level) grain, not ticks — i.e. a
    partial_count HashAggregate sits below it. scalar_regex and
    mm_magic_census: map-only."""
    import re

    from kdb_spark.analytics import aggregations as agg
    from kdb_spark.analytics import windows as wn
    from kdb_spark.llm import multimodal as mm
    from kdb_spark.analytics import scalars as sc

    ev = events_us(spark, SF_DIR)
    plan = plan_of(wn.win_seasonal_naive(ev))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan

    plan = plan_of(agg.agg_volume_profile(ev))
    # map-side combine on the (type, level) grain BEFORE any exchange —
    # the shuffle carries distinct levels, not ticks
    assert "partial_count" in plan, plan

    docs = load(spark, SF_DIR, "documents")
    for df in (sc.scalar_regex(docs), mm.mm_magic_census(docs).limit(0)):
        pass
    plan = plan_of(sc.scalar_regex(docs))
    assert "Exchange" not in plan and "EvalPython" not in plan, plan


def test_r16_keys_never_cartesian_and_stay_jvm_side(spark):
    """r16 family additions keep the two 100 TB contracts: no cartesian /
    nested-loop join anywhere (grid-knn must block on cells, suffix dedup
    on hashes, clustering coeff on the oriented-edge equi-joins; the
    welch/kruskal broadcast of a 1-row global is the ONE allowed
    nested-loop shape — a broadcast of a scalar aggregate), and no
    Python eval in any plan (all of them are pure JVM expressions)."""
    from kdb_spark.analytics import aggregations as agg
    from kdb_spark.analytics import graph as gr
    from kdb_spark.analytics import joins as jn
    from kdb_spark.analytics import windows as wn
    from pyspark.sql import functions as F

    from kdb_spark.llm import dedup as dd
    from kdb_spark.llm import textstats as tx

    docs = load(spark, SF_DIR, "documents")
    ev = events_us(spark, SF_DIR)
    pts = ev.select(F.col("user_id").alias("pid"),
                    (F.col("user_id") % 100).alias("px"),
                    (F.col("user_id") % 97).alias("py")).distinct()
    edges = gr.co_purchase_edges(
        load(spark, SF_DIR, "orders"), load(spark, SF_DIR, "lineitem")
    )
    from kdb_spark.llm import similarity as sim

    emb = load(spark, SF_DIR, "embeddings")
    strict = {
        "ljung": agg.agg_ljung_box(ev),
        "coeff": gr.clustering_coeff(edges),
        "zipf": tx.text_zipf_fit(docs),
        "suffix": dd.dedup_suffix(docs),
        "knn": jn.join_grid_knn(pts),
        "parkinson": wn.win_parkinson_vol(ev),
        "garman": wn.win_garman_klass(ev),
        "triplet": sim.emb_triplet_eval(emb),
    }
    for name, df in strict.items():
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "EvalPython" not in plan, (name, plan)
    # logprob's ONE BroadcastNestedLoopJoin is the sanctioned scalar
    # shape: the 1-row (N, V) corpus aggregate cross-joined broadcast —
    # never a data-sized side
    import re

    lplan = plan_of(tx.quality_unigram_logprob(docs))
    assert "CartesianProduct" not in lplan, lplan
    # formatted plans print each node twice (tree + detail): count details
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", lplan)) <= 1, lplan
    assert "EvalPython" not in lplan, lplan
    # welch_t's only join-like node is the implicit single-row aggregate —
    # no join at all in its plan, and certainly no shuffle join
    wplan = plan_of(agg.agg_welch_t(ev))
    assert "Join" not in wplan, wplan
    assert "EvalPython" not in wplan, wplan


# Registry keys whose operators choose their own scan parallelism — an
# explicit repartition before the map-heavy stage, or none — found by
# walking the call graph from those operators to the registry lambdas.
SCAN_PARALLELISM_KEYS = [
    "agg_bootstrap_ci", "agg_permutation_test", "dedup_ngram_jaccard",
    "dedup_near_minhash", "dedup_cross_corpus", "dedup_simhash",
    "dedup_cluster", "decontaminate_fuzzy", "dedup_keep_best",
    "dedup_minhash_calibration", "sim_search_topk", "ann_search_topk",
    "ivf_search_topk", "pq_search_topk", "emb_kmeans", "emb_outliers",
    "ivf_index_search", "emb_mmr_rerank", "emb_centroid_classify",
    "ivfpq_search_topk", "emb_recall_eval", "emb_label_exemplars",
    "emb_text_agreement", "emb_triplet_eval", "text_gopher_quality",
    "text_source_overlap", "text_ngram_novelty", "text_zipf_fit",
    "quality_unigram_logprob", "stream_cross_dedup",
]


def test_query_build_never_touches_rdd(spark, monkeypatch):
    """Building a query's DataFrame must not go through ``DataFrame.rdd``:
    the RDD conversion analyzes and plans the whole input at build time,
    before the caller asked for any result."""
    import __spark_entry__ as entry

    def no_rdd(self):
        raise AssertionError("DataFrame.rdd called while building a query")

    queries = entry.queries()
    # the concrete class: Spark 4's classic DataFrame overrides ``rdd``
    monkeypatch.setattr(type(spark.range(1)), "rdd", property(no_rdd))
    for key in SCAN_PARALLELISM_KEYS:
        assert isinstance(queries[key](spark, SF_DIR), DataFrame), key
