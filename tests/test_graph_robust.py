"""Invariant tests for the graph + robust-stats batch.  Value parity for
the SQL-matched ops lives in strict_diff / the driver oracle; PageRank
is rows-only, so its contract (mass conservation, degree correlation,
run-to-run stability) is pinned here."""

from __future__ import annotations

import math

from un_datapipeline_spark.operators.etl import etl_time_travel
from un_datapipeline_spark.operators.graph_stats import (
    _bipartite_edges,
    graph_degree_stats,
    graph_pagerank,
)
from un_datapipeline_spark.operators.robust_stats import (
    agg_benford_digits,
    agg_mad_outliers,
    ts_autocorrelation,
    ts_theil_sen_slope,
    win_pareto_abc,
)


def test_degree_stats_accounts_every_node(spark, sf_smoke):
    rows = graph_degree_stats(spark, sf_smoke).collect()
    n_nodes = sum(r.n_nodes for r in rows)
    distinct_nodes = (
        _bipartite_edges(spark, sf_smoke).select("src").distinct().count()
    )
    assert n_nodes == distinct_nodes
    assert {r.node_type for r in rows} == {"c", "s"}


def test_pagerank_conserves_mass_and_tracks_degree(spark, sf_smoke):
    edges = _bipartite_edges(spark, sf_smoke)
    n = edges.select("src").distinct().count()
    top = graph_pagerank(spark, sf_smoke).collect()
    assert len(top) == 20
    assert all(r.rank > 0 for r in top)
    # with no dangling nodes, total mass = n; the top-20 slice must hold
    # a plausible share of it and be ordered
    ranks = [r.rank for r in top]
    assert ranks == sorted(ranks, reverse=True)
    assert sum(ranks) < n
    # hubs should be high-degree: top node's degree beats the mean
    mean_deg = edges.count() / n
    assert top[0].degree > mean_deg


def test_mad_fence_wider_than_zero(spark, sf_smoke):
    for r in agg_mad_outliers(spark, sf_smoke).collect():
        assert r.mad_val > 0, "constant series would break the fence"
        assert 0 <= r.n_outliers < r.n
        assert r.median_val > 0


def test_theil_sen_pair_count(spark, sf_smoke):
    for r in ts_theil_sen_slope(spark, sf_smoke).collect():
        assert r.n_pairs == r.n_days * (r.n_days - 1) // 2


def test_acf_lag_zero_normalization(spark, sf_smoke):
    rows = ts_autocorrelation(spark, sf_smoke).collect()
    assert {r.lag for r in rows} == {1, 2, 3}
    for r in rows:
        assert -1.000001 <= r.acf <= 1.000001


def test_benford_expected_sums_to_n(spark, sf_smoke):
    rows = agg_benford_digits(spark, sf_smoke).collect()
    by_group: dict[str, list] = {}
    for r in rows:
        assert 1 <= r.digit <= 9
        by_group.setdefault(r.o_orderpriority, []).append(r)
    for grp in by_group.values():
        n = sum(r.observed for r in grp)
        # expectations are a full probability model: sum of expected
        # counts over observed digits ≤ n, = n when all 9 digits occur
        exp_total = sum(r.expected for r in grp)
        if len(grp) == 9:
            assert math.isclose(exp_total, n, rel_tol=1e-6)
        else:
            assert exp_total <= n * (1 + 1e-9)


def test_pareto_classes_partition_revenue(spark, sf_smoke):
    rows = win_pareto_abc(spark, sf_smoke).collect()
    shares = sorted(r.cum_share for r in rows)
    assert math.isclose(shares[-1], 1.0, abs_tol=1e-6)
    by_class = {c: 0 for c in "ABC"}
    for r in rows:
        by_class[r.abc_class] += 1
    assert by_class["A"] > 0 and by_class["C"] > 0
    # A-parts must be fewer than C-parts for any skewed revenue curve
    assert by_class["A"] < len(rows)


def test_time_travel_versions_consistent(spark, sf_smoke):
    r = etl_time_travel(spark, sf_smoke).collect()[0]
    assert r.v2_rows == r.v1_rows + r.rows_added
    assert 0 < r.rows_changed < r.v1_rows
    assert r.v1_cents < r.v2_cents


def test_mann_whitney_u_bounds(spark, sf_smoke):
    from un_datapipeline_spark.operators.robust_stats import agg_mann_whitney

    for r in agg_mann_whitney(spark, sf_smoke).collect():
        assert 0 <= r.u_a <= r.n1 * r.n2
        assert -1.000001 <= r.rank_biserial <= 1.000001
        # parity split of a random series: no giant effect expected
        assert abs(r.z) < 10


def test_geo_radius_pairs_within_radius(spark, sf_smoke):
    from un_datapipeline_spark.operators.spatial import join_geo_radius

    rows = join_geo_radius(spark, sf_smoke).collect()
    assert rows
    assert all(0 <= r.dist_km <= 25.0 for r in rows)
    # grid-cell prefilter must not drop in-radius pairs: spot-check that
    # the same customer never pairs with one supplier twice
    seen = {(r.c_custkey, r.s_suppkey) for r in rows}
    assert len(seen) == len(rows)


def test_bpe_train_monotone(spark, sf_smoke):
    from un_datapipeline_spark.operators.training_prep import llm_bpe_train

    rows = sorted(llm_bpe_train(spark, sf_smoke).collect(), key=lambda r: r.step)
    assert [r.step for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 5
    for prev, cur in zip(rows, rows[1:]):
        assert cur.corpus_syms < prev.corpus_syms, "each merge shrinks corpus"
        assert cur.vocab_size >= prev.vocab_size
    for r in rows:
        assert r.pair_count > 0
        assert r.merged == r.pair.replace(" ", "")


def test_watermark_strip_complete(spark, sf_smoke):
    from un_datapipeline_spark.operators.text_analysis import llm_watermark_strip

    rows = llm_watermark_strip(spark, sf_smoke).collect()
    assert rows
    total_wm = sum(r.n_watermarked for r in rows)
    total_marks = sum(r.n_marks_removed for r in rows)
    assert total_wm > 0
    assert total_marks == 2 * total_wm, "two marks planted per marked doc"
    assert all(r.n_still_marked == 0 for r in rows)


def test_ks_statistic_bounds(spark, sf_smoke):
    from un_datapipeline_spark.operators.robust_stats import agg_ks_test

    for r in agg_ks_test(spark, sf_smoke).collect():
        assert 0 <= r.d <= 1.0
        assert r.ks_stat >= 0
        # parity split of the same distribution: gap should be modest
        assert r.d < 0.25


def test_chisq_shape(spark, sf_smoke):
    from un_datapipeline_spark.operators.robust_stats import (
        agg_chisq_independence,
    )

    rows = agg_chisq_independence(spark, sf_smoke).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.chi2 >= 0
    assert r.dof == (r.n_r - 1) * (r.n_c - 1)


def test_gdpr_delete_is_physical_and_complete(spark, sf_smoke):
    from un_datapipeline_spark.operators.etl import etl_gdpr_delete

    r = etl_gdpr_delete(spark, sf_smoke).collect()[0]
    assert r.n_forget_users > 0
    assert r.n_rows_deleted > 0
    assert r.n_after == r.n_before - r.n_rows_deleted
    assert r.n_remaining_for_forgotten == 0


def test_geo_radius_plan_is_equi_join(spark, sf_smoke):
    from un_datapipeline_spark.operators.spatial import join_geo_radius

    plan = (
        join_geo_radius(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the cell-bucketing must keep Catalyst on a hash/merge equi-join;
    # a raw distance predicate degrades to BroadcastNestedLoopJoin
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lorenz_gini_bounds(spark, sf_smoke):
    from un_datapipeline_spark.operators.robust_stats import agg_lorenz_gini

    rows = agg_lorenz_gini(spark, sf_smoke).collect()
    assert len(rows) == 25, "one Lorenz curve per nation"
    for r in rows:
        assert -1e-9 <= r.gini <= 1.0
        assert r.n_customers > 0


def test_holt_forecast_linear_in_horizon(spark, sf_smoke):
    from un_datapipeline_spark.operators.time_series import ts_holt_forecast

    rows = sorted(
        ts_holt_forecast(spark, sf_smoke).collect(),
        key=lambda r: (r.event_type, r.horizon),
    )
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        assert [r.horizon for r in series] == list(range(1, 8))
        # y(h) = level + h*trend: consecutive differences are constant
        # up to the 2dp rounding of each forecast
        diffs = [b.forecast - a.forecast for a, b in zip(series, series[1:])]
        assert max(diffs) - min(diffs) <= 0.021


def test_tokenizer_apply_shrinks_stream(spark, sf_smoke):
    from un_datapipeline_spark.operators.training_prep import (
        llm_tokenizer_apply,
    )

    rows = llm_tokenizer_apply(spark, sf_smoke).collect()
    assert rows
    assert all(r.n_after <= r.n_before for r in rows)
    assert any(r.n_after < r.n_before for r in rows), "merges must fire"
    # no merged symbol may still contain a mergeable pair (3 passes)
    assert all(" t h " not in " " + r.preview + " " for r in rows)


def test_hhi_between_floor_and_one(spark, sf_smoke):
    from un_datapipeline_spark.operators.robust_stats import (
        agg_hhi_concentration,
    )

    for r in agg_hhi_concentration(spark, sf_smoke).collect():
        assert r.hhi_floor - 1e-9 <= r.hhi <= 1.0 + 1e-9


def test_km_survival_monotone_decreasing(spark, sf_smoke):
    from un_datapipeline_spark.operators.robust_stats import agg_survival_km

    rows = sorted(
        agg_survival_km(spark, sf_smoke).collect(),
        key=lambda r: r.duration_days,
    )
    assert rows
    last = 1.0
    for r in rows:
        assert 0 < r.survival <= last + 1e-9, "KM curve must not increase"
        last = r.survival
        assert r.d_events <= r.n_risk


def test_drawdown_nonnegative_and_bounded(spark, sf_smoke):
    from un_datapipeline_spark.operators.time_series import ts_max_drawdown

    for r in ts_max_drawdown(spark, sf_smoke).collect():
        assert r.max_drawdown >= 0
        assert 0 <= r.drawdown_frac <= 1.0


def test_peaks_are_strict_local_maxima(spark, sf_smoke):
    from un_datapipeline_spark.operators.time_series import ts_peak_detect

    for r in ts_peak_detect(spark, sf_smoke).collect():
        assert r.rise_frac > 0 and r.fall_frac > 0


def test_ols_r2_bounds_and_slope_sign(spark, sf_smoke):
    from un_datapipeline_spark.operators.robust_stats import (
        agg_linear_regression,
    )

    for r in agg_linear_regression(spark, sf_smoke).collect():
        assert 0 <= r.r2 <= 1.0 + 1e-9
        assert r.n >= 2


def test_dynamic_udtf_schema_from_spec(spark, sf_smoke):
    from un_datapipeline_spark.operators.udfs import udtf_dynamic_schema

    df = udtf_dynamic_schema(spark, sf_smoke)
    assert df.columns == ["o_orderkey", "status", "priority", "odate"]
    r = df.orderBy("o_orderkey").first()
    assert r.status in {"O", "F", "P"} and len(r.odate) == 10


def test_burst_detect_above_mean(spark, sf_smoke):
    from un_datapipeline_spark.operators.time_series import ts_burst_detect

    for r in ts_burst_detect(spark, sf_smoke).collect():
        assert r.zscore > 3.0 - 1e-6
        assert r.n_events > r.mean_events


def test_kcore_result_keeps_pinned_width(spark, sf_smoke):
    """graph_kcore's final degree aggregate and sort belong to the pinned
    loop width: a result planned after the pin exits would shuffle at
    whatever width the session has when the caller acts on it."""
    import re

    from un_datapipeline_spark.operators.graph_stats import graph_kcore
    from un_datapipeline_spark.session import scoped_confs

    sentinel = 37
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": sentinel}):
        df = graph_kcore(spark, sf_smoke)
        assert df.collect(), "sf0.001 k-core must be non-empty"
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(rf"partitioning\(.*, {sentinel}\)", plan), plan
