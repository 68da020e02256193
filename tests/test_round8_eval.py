"""Round-8 model-evaluation family: binned ROC (AUC/Gini/KS),
calibration, chi-square independence — plan shapes and degenerate
inputs. Oracle parity at sf0.01 is covered by test_oracle_parity.py;
these tests pin the 100 TB plan properties (single scan, bounded
shuffles, histogram-sized windows) and the edge cases a differential
oracle on TPC-H-ish data never reaches (single-class, empty, constant
column)."""

from __future__ import annotations

from pyspark.sql import functions as F

from inf2106_map_reduce_spark import session
from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.plans import (
    data_shuffle_count,
    pushed_filters,
    scan_columns,
)


# ---------------------------------------------------------------------------
# Plan shapes
# ---------------------------------------------------------------------------


def test_chi2_single_scan_pushdown_and_pruning(spark, sf_oracle):
    df = stats.lineitem_chi2_flags(spark, sf_oracle)
    filters = " ".join(pushed_filters(df))
    assert "l_returnflag" in filters and "l_linestatus" in filters, (
        f"NULL-exclusion not pushed to the scan: {filters}"
    )
    cols = scan_columns(df)
    assert len(cols) == 1, "chi-square must scan the data exactly once"
    assert set().union(*cols) == {"l_returnflag", "l_linestatus"}
    # cell agg (partial+final = 1 exchange) + the single-partition
    # window over the <= R*S cell frame; everything else is local
    assert data_shuffle_count(df) <= 2, data_shuffle_count(df)


def test_auc_histogram_shape(spark, sf_oracle):
    df = stats.lineitem_logreg_auc(spark, sf_oracle)
    # scoring projects only the model's inputs
    read = set().union(*scan_columns(df))
    assert read == {
        "l_quantity",
        "l_discount",
        "l_extendedprice",
        "l_returnflag",
    }, f"scan reads extra columns: {read}"
    # bin histogram agg + the single-partition window over <= n_bins
    # rows + the final single-row reduce; no global sort of data rows
    assert data_shuffle_count(df) <= 3, data_shuffle_count(df)


def test_calibration_bounded_shuffles(spark, sf_oracle):
    df = stats.lineitem_logreg_calibration(spark, sf_oracle)
    assert data_shuffle_count(df) <= 2, data_shuffle_count(df)


# ---------------------------------------------------------------------------
# Degenerate inputs
# ---------------------------------------------------------------------------


def _scored(spark, rows):
    return spark.createDataFrame(rows, "p double, y double")


def test_auc_single_class_is_null(spark):
    out = stats.roc_auc_binned(
        _scored(spark, [(0.2, 1.0), (0.9, 1.0)])
    ).first()
    assert out.n_rows == 2 and out.n_pos == 2 and out.n_neg == 0
    assert out.auc is None and out.gini is None and out.ks is None


def test_auc_empty_input(spark):
    out = stats.roc_auc_binned(_scored(spark, [])).first()
    assert out.n_rows == 0 and out.n_pos == 0 and out.n_neg == 0
    assert out.auc is None and out.ks is None


def test_auc_perfect_separation(spark):
    out = stats.roc_auc_binned(
        _scored(
            spark,
            [(0.9, 1.0), (0.8, 1.0), (0.2, 0.0), (0.1, 0.0)],
        )
    ).first()
    assert out.auc == 1.0 and out.gini == 1.0 and out.ks == 1.0


def test_auc_reversed_ranking(spark):
    out = stats.roc_auc_binned(
        _scored(spark, [(0.1, 1.0), (0.9, 0.0)])
    ).first()
    assert out.auc == 0.0 and out.gini == -1.0


def test_auc_ties_get_half_credit(spark):
    # all scores land in one bin: AUC must be exactly 0.5
    out = stats.roc_auc_binned(
        _scored(spark, [(0.5, 1.0), (0.5, 0.0), (0.5, 1.0), (0.5, 0.0)])
    ).first()
    assert out.auc == 0.5 and out.ks == 0.0


def test_calibration_clamps_boundary_score(spark):
    rows = stats.calibration_table(
        _scored(spark, [(1.0, 1.0), (0.0, 0.0), (0.95, 1.0)])
    ).collect()
    bins = {r.bin: r for r in rows}
    # p = 1.0 must clamp into the last bin, not bin n_bins
    assert set(bins) == {0, 9}
    assert bins[9].n_rows == 2 and bins[9].frac_positive == 1.0


def test_bin_clamps_out_of_range_scores(spark):
    # scores outside [0, 1] must fold into the EDGE bins, not produce
    # negative / overflowing bin ids that silently distort the
    # cumulative histogram (round-9 ADVICE item)
    rows = stats.calibration_table(
        _scored(spark, [(-0.3, 0.0), (1.7, 1.0), (0.55, 1.0)])
    ).collect()
    assert {r.bin for r in rows} == {0, 5, 9}
    # same clamp on the AUC path: the out-of-range pair is perfectly
    # separated via the edge bins, so AUC stays well-defined and exact
    out = stats.roc_auc_binned(
        _scored(spark, [(-0.3, 0.0), (1.7, 1.0)])
    ).first()
    assert out.auc == 1.0 and out.n_rows == 2


def test_chi2_constant_column_degenerate(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("a", "x")], "u string, v string"
    )
    rows = stats.chi_square_independence(df, "u", "v").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.dof == 0
        assert r.cramers_v is None
        assert r.chi2 == 0.0


def test_chi2_known_2x2(spark):
    # classic 2x2: rows (10, 20 / 20, 10), chi2 = 60*(10*10-20*20)^2
    # / (30*30*30*30) = 6.666667 ignoring continuity correction
    data = (
        [("a", "x")] * 10
        + [("a", "y")] * 20
        + [("b", "x")] * 20
        + [("b", "y")] * 10
    )
    df = spark.createDataFrame(data, "u string, v string")
    r = stats.chi_square_independence(df, "u", "v").first()
    assert r.dof == 1
    assert abs(r.chi2 - 6.666667) < 1e-6
    # V = sqrt(chi2 / n) for 2x2
    assert abs(r.cramers_v - (6.6666666667 / 60) ** 0.5) < 1e-6


def test_chi2_structural_zero_cell(spark):
    # (b, y) never co-occurs: the zero cell must be MATERIALIZED and
    # contribute (0-e)^2/e = e = 2.5, or chi2 is understated
    # (4.166667 instead of 6.666667 — round-9 ADVICE item).
    # Totals: row a=10, b=10; col x=15, y=5; n=20.
    data = [("a", "x")] * 5 + [("a", "y")] * 5 + [("b", "x")] * 10
    df = spark.createDataFrame(data, "u string, v string")
    rows = stats.chi_square_independence(df, "u", "v").collect()
    assert len(rows) == 4, "zero cell must appear as a row"
    by_cell = {(r.u, r.v): r for r in rows}
    zero = by_cell[("b", "y")]
    assert zero.observed == 0
    assert abs(zero.expected - 2.5) < 1e-9
    assert abs(zero.contrib - 2.5) < 1e-9
    r = rows[0]
    assert abs(r.chi2 - 6.666667) < 1e-6
    assert r.dof == 1
    assert abs(r.cramers_v - (6.6666666667 / 20) ** 0.5) < 1e-6


def test_chi2_null_categories_excluded(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", None), (None, "y"), ("b", "y")],
        "u string, v string",
    )
    rows = stats.chi_square_independence(df, "u", "v").collect()
    assert all(r.n_rows == 2 for r in rows)


# ---------------------------------------------------------------------------
# Trajectory sharing
# ---------------------------------------------------------------------------


def test_model_cache_trains_once(spark, sf_oracle):
    session._cache_entries.pop(("lineitem_model", sf_oracle), None)
    _, w1 = stats._registry_lineitem_model(spark, sf_oracle)
    _, w2 = stats._registry_lineitem_model(spark, sf_oracle)
    assert w1 is w2, "second call must hit the session cache"
    assert len(w1) == 4


def test_trainer_accepts_precomputed_weights(spark, sf_oracle):
    from inf2106_map_reduce_spark.tables import load_table

    li = load_table(spark, sf_oracle, "lineitem")
    feats = stats._lineitem_features()
    label = (F.col("l_returnflag") == "R").cast("int")
    _, w = stats._registry_lineitem_model(spark, sf_oracle)
    direct = stats.logreg_train(li, feats, label).collect()
    seeded = stats.logreg_train(li, feats, label, weights=w).collect()
    assert direct == seeded
