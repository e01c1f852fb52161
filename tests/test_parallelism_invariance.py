"""Determinism-at-any-parallelism for the round-6 operators.

The engine's standing contract (see agg_mode's docstring): results must
not depend on partition count or row arrival order — the property that
separates an operator that HAPPENS to pass the oracle at 32 partitions
from one that is correct on a 1000-executor cluster. Each case runs the
op on the sf0.001 input twice — as loaded, and repartitioned to a prime
partition count with shuffled row order — and requires identical rows.
"""

import pytest

from kdb_spark.analytics import aggregations as agg
from kdb_spark.analytics import behavior as bh
from kdb_spark.analytics import joins as jn
from kdb_spark.analytics import windows as wn
from kdb_spark.llm import curation as cu
from kdb_spark.llm import dedup as dd
from kdb_spark.llm import textstats as tx
from kdb_spark.tables import events_us, load
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _scrambled(df):
    # repartition + per-partition reverse: different partition count AND
    # different within-partition row order than the file scan
    return df.repartition(7).sortWithinPartitions(df.columns[0], ascending=False)


EVENT_OPS = [
    wn.win_ewma,
    wn.win_zscore,
    jn.join_nearest,
    agg.agg_count_min,
    agg.agg_quantile_sketch,
    bh.agg_funnel,
    bh.retention_cohort,
    bh.win_streaks,
    agg.udaf_max_gap,
    agg.agg_mad,
    agg.agg_gini,
    wn.win_cusum,
    wn.win_counter_rate,
    # round-7 additions: exact-integer-moment window/agg ops and the
    # transition/twap/fby/overlap family — all must hold bit-identity
    wn.win_bollinger,
    wn.win_rsi,
    wn.win_drawdown,
    wn.win_fby,
    agg.agg_twap,
    agg.agg_autocorr,
    agg.agg_distinct_overlap,
    agg.agg_entropy,
    bh.agg_transitions,
    wn.win_rsi,
    wn.win_hampel,
    agg.agg_kmv_overlap,
    agg.agg_autocorr,
    # round-9 additions: vwap's decimal products, seasonality's integer
    # hour fold, and donchian's frame extremes are all exact-integer paths
    agg.agg_vwap,
    agg.agg_bitmap_distinct,  # bit_or / popcount are order-independent
    agg.agg_seasonality,
    wn.win_donchian,
    # late round-9 additions: decimal power sums, integer bit-bucket
    # percentiles, and the bar-table EWMA composition are all exact paths
    agg.agg_skew_kurtosis,
    agg.agg_hdr_histogram,
    wn.win_keltner,
    agg.agg_linreg,  # decimal sufficient-sum OLS — exact path
    agg.agg_benford,  # integer digit counts + pinned literals
    agg.agg_overlap_matrix,  # bitmap-word AND/popcount — all integer
    agg.agg_ks_test,  # integer CDF cross-multiplication — exact
    # round-12 additions: struct-max argmax picks, exact midpoint grids,
    # bigint drawdown moments, and the runs/dispersion integer rationals
    wn.win_aroon,
    wn.win_ichimoku,
    wn.win_ulcer_index,
    agg.agg_runs_test,
    agg.agg_poisson_dispersion,
    agg.agg_interarrival_stats,
    agg.agg_acf_table,
    # round-13 additions: run-length window algebra, struct-max peak
    # picks, rank-device quartiles/drift, integer sign censuses, the
    # changepoint argmax, and the day-grain collapses
    wn.win_plateau,
    wn.win_peak_age,
    wn.win_gap_open,
    wn.win_seasonal_naive,
    agg.agg_bowley_skew,
    agg.agg_flow_imbalance,
    agg.agg_changepoint,
    agg.agg_volume_profile,
    agg.agg_user_lifetime,
    agg.agg_event_study,
    agg.agg_grid_completeness,
    bh.agg_attribution,
    # md5 resampling folds into exact integer/decimal sums — placement-free
    agg.agg_bootstrap_ci,
    agg.agg_permutation_test,
]

DOC_OPS = [
    tx.text_repetition,
    tx.quality_rarity,
    cu.mix_weights,
    cu.pipeline_corpus_prep,
    dd.dedup_substring,
    dd.dedup_cross_corpus,  # exact jaccard + order-independent aggregates
    tx.text_hash_features,  # md5-slot counts are placement-independent
    cu.mix_temperature,  # bigint-grid normalizer kills float sum order
    cu.curation_token_budget,  # level agg + md5 gate, no ordered cumsum
    tx.text_hapax_ratio,  # map-only sorted-neighbour scan — per-row exact
    tx.text_simpson_diversity,  # per-row run-length fold — placement-free
    tx.text_char_classes,  # map-only regex census
    cu.curation_filter_funnel,  # integer gates + one hash agg
    tx.token_length_profile,  # rank device per source
    tx.text_source_overlap,  # distinct shingle sets — placement-free
    # near-dup family: shingle/MinHash sets and exact jaccard are
    # placement-free, whether or not the op repartitions its own input
    dd.dedup_simhash,
    dd.dedup_minhash_calibration,
    dd.dedup_near_minhash,
    dd.dedup_cluster,
]


@pytest.mark.parametrize("op", EVENT_OPS, ids=lambda f: f.__name__)
def test_event_ops_parallelism_invariant(spark, op):
    ev = events_us(spark, SF_DIR)
    assert _rows(op(ev)) == _rows(op(_scrambled(ev)))


def _mm_decode(docs):
    from kdb_spark.llm import multimodal as mm

    return mm.mm_decode_features(mm.mm_bmp_table(docs))


_mm_decode.__name__ = "mm_decode_features"
DOC_OPS.append(_mm_decode)


@pytest.mark.parametrize("op", DOC_OPS, ids=lambda f: f.__name__)
def test_doc_ops_parallelism_invariant(spark, op):
    docs = load(spark, SF_DIR, "documents")
    assert _rows(op(docs)) == _rows(op(_scrambled(docs)))


from kdb_spark.llm import similarity as sim  # noqa: E402

EMB_OPS = [sim.emb_outliers, sim.emb_centroid_classify, sim.emb_dim_stats, sim.emb_quantize_sq8, sim.emb_hamming_topk, sim.emb_label_drift, sim.emb_label_spread, sim.emb_label_affinity, sim.emb_hard_negatives, sim.sim_search_topk]


@pytest.mark.parametrize("op", EMB_OPS, ids=lambda f: f.__name__)
def test_emb_ops_parallelism_invariant(spark, op):
    """r8 ADVICE item 2: centroid/z-score means must come from exact
    decimal sums (similarity._qmean), not F.avg over doubles whose
    partial-merge order follows the partitioning — bit-identity required."""
    emb = load(spark, SF_DIR, "embeddings")
    assert _rows(op(emb)) == _rows(op(_scrambled(emb)))


def test_table_profile_parallelism_invariant(spark):
    orders = load(spark, SF_DIR, "orders")
    a = _rows(agg.table_profile(orders))
    b = _rows(agg.table_profile(_scrambled(orders)))
    assert a == b


def test_float_merge_ops_stable_under_reshuffle(spark):
    """emb_pca and pq_search_topk merge float partials on the driver, so
    bit-identity across partitionings is NOT guaranteed (partial grouping
    changes the addition order) — the honest contract is tolerance
    stability: projections agree to 1e-3 and the PQ top-k sets are
    essentially unchanged. SURVEY §5(f) documents this carve-out."""
    from kdb_spark.llm import similarity as sim

    emb = load(spark, SF_DIR, "embeddings")
    a = {r.vec_id: (r.pc1, r.pc2) for r in sim.emb_pca(emb).collect()}
    b = {
        r.vec_id: (r.pc1, r.pc2)
        for r in sim.emb_pca(emb.repartition(7)).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k][0] - b[k][0]) < 1e-3 and abs(a[k][1] - b[k][1]) < 1e-3

    ta = {r.query_id: set() for r in sim.pq_search_topk(emb).collect()}
    for r in sim.pq_search_topk(emb).collect():
        ta[r.query_id].add(r.match_id)
    tb = {q: set() for q in ta}
    for r in sim.pq_search_topk(emb.repartition(7)).collect():
        tb.setdefault(r.query_id, set()).add(r.match_id)
    overlap = sum(len(ta[q] & tb[q]) for q in ta) / sum(len(ta[q]) for q in ta)
    assert overlap >= 0.8, overlap
