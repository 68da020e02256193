"""Statistical analysis operators: grouped OLS regression, pairwise
correlation matrices, and Welch's two-sample t-test.

The inferential-statistics surface of the engine — the "is this
relationship real" layer that sits on top of the descriptive
aggregates (``agg_stats_battery``) and the profiler
(``profile_orders_columns``). All three operators are MOMENT
aggregations: every statistic reduces to sums of {1, x, y, x², y²,
xy}, which Spark computes as one partial+final aggregate per group —
a single shuffle of a handful of doubles per group regardless of
input size, the textbook map-side-combine shape.

Numeric-parity contract: statistics are computed from EXPLICIT moment
formulas (not ``regr_slope``/``corr`` built-ins) so the engine and the
DuckDB oracle evaluate the exact same arithmetic over the same sums,
and every emitted statistic is rounded to 6 decimals — the repo-wide
double-summation tolerance (sums of doubles are summation-order
sensitive in the last ulp; ratios of centered moments are stable well
inside 1e-6).

Superset capability vs the reference (word-count MapReduce only);
the moment-aggregation pattern itself is the classic one-pass
MapReduce statistics job, re-expressed declaratively.
"""

from __future__ import annotations

import logging
import re
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inf2106_map_reduce_spark.session import session_cache
from inf2106_map_reduce_spark.tables import literal_frame, load_table

_log = logging.getLogger(__name__)


def _moments(x: Column, y: Column) -> list[Column]:
    # Pairwise-complete observations ONLY: n and every sum share one
    # null-excluding predicate. Counting all rows while the sums skip
    # NULLs would silently bias slope/intercept/r² whenever x or y is
    # nullable (n would include rows excluded from every sum) — the
    # same class of defect welch_ttest guards against with its
    # v.isNotNull() conjunct. The oracles mirror this with
    # COUNT(CASE WHEN both THEN 1 END) / SUM(CASE WHEN both ...).
    both = x.isNotNull() & y.isNotNull()
    return [
        F.count(F.when(both, 1)).cast("double").alias("n"),
        F.sum(F.when(both, x)).alias("sx"),
        F.sum(F.when(both, y)).alias("sy"),
        F.sum(F.when(both, x * x)).alias("sxx"),
        F.sum(F.when(both, y * y)).alias("syy"),
        F.sum(F.when(both, x * y)).alias("sxy"),
    ]


def grouped_ols(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group simple linear regression y = slope·x + intercept with
    the Pearson r² fit measure — the "price per unit by segment" /
    "trend per cohort" question, answered for every group in ONE
    aggregation pass.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept =
    (Σy − slope·Σx)/n, r² = slope² · var(x)/var(y). Groups with zero
    x-variance emit NULL slope/intercept/r2 rather than dividing by
    zero (3VL-safe: the CASE guards below). Rows where x or y is NULL
    are excluded from EVERY moment including ``n_rows``
    (pairwise-complete, see :func:`_moments`); a group with no
    complete pair emits n_rows=0 and NULL statistics.

    Scale: one shuffle keyed on the group columns, six doubles per
    group after the map-side partial — the aggregate state is O(1)
    per group, so a 100 TB fact table reduces to |groups| rows before
    anything crosses the network.
    """
    x, y = F.col(x_col), F.col(y_col)
    m = df.groupBy(*group_cols).agg(*_moments(x, y))
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(den_x != 0, num / den_x)
    intercept = F.when(
        den_x != 0, (F.col("sy") - (num / den_x) * F.col("sx")) / F.col("n")
    )
    r2 = F.when((den_x != 0) & (den_y != 0), (num * num) / (den_x * den_y))
    # rounding scale tracks magnitude: slope/r2 are O(1)-ish ratios
    # (6 decimals leaves >10x summation-order headroom); the intercept
    # carries the y magnitude (~5e4 here), where 6 decimals would sit
    # inside the cross-engine double-sum jitter — 4 keeps 40x margin
    return m.select(
        *group_cols,
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over the given numeric columns,
    long form: one row per ordered pair (col_x < col_y by position)
    — the feature-redundancy screen a training pipeline runs before
    model fitting.

    Plan: ONE aggregation computes every needed moment in a single
    pass — the row explodes into k² correlations only AFTER reduction
    to one row, so the per-pair work is driver-free column arithmetic
    on a 1-row DataFrame, never a second scan. Compare per-pair
    ``F.corr`` aggregates: k²/2 scans of the fact table.

    Null semantics: PAIRWISE-COMPLETE — each pair (x, y) carries its
    own n and its own sums, all guarded by the same
    ``x IS NOT NULL AND y IS NOT NULL`` predicate (the R
    ``use="pairwise.complete.obs"`` contract). Sharing one global n
    across pairs would bias every correlation touching a nullable
    column; sharing per-column sums would mix each column's null mask
    into other pairs' moments.

    Scale: aggregate state is O(k²) doubles total (6 per pair, not
    per row), one partial+final agg, no shuffle beyond the single
    global reduce.
    """
    if len(cols) < 2:
        raise ValueError(
            f"corr_matrix needs at least two columns, got {cols!r}"
        )
    aggs: list[Column] = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            x, y = F.col(cols[i]), F.col(cols[j])
            both = x.isNotNull() & y.isNotNull()
            t = f"{i}_{j}"
            aggs.extend(
                [
                    F.count(F.when(both, 1)).cast("double").alias(f"n{t}"),
                    F.sum(F.when(both, x)).alias(f"sx{t}"),
                    F.sum(F.when(both, y)).alias(f"sy{t}"),
                    F.sum(F.when(both, x * x)).alias(f"qx{t}"),
                    F.sum(F.when(both, y * y)).alias(f"qy{t}"),
                    F.sum(F.when(both, x * y)).alias(f"p{t}"),
                ]
            )
    m = df.agg(*aggs)
    pairs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            t = f"{i}_{j}"
            n, sx, sy = F.col(f"n{t}"), F.col(f"sx{t}"), F.col(f"sy{t}")
            num = n * F.col(f"p{t}") - sx * sy
            den = F.sqrt(
                (n * F.col(f"qx{t}") - sx * sx)
                * (n * F.col(f"qy{t}") - sy * sy)
            )
            pairs.append(
                m.select(
                    F.lit(cols[i]).alias("col_x"),
                    F.lit(cols[j]).alias("col_y"),
                    F.round(F.when(den != 0, num / den), 6).alias("pearson_r"),
                )
            )
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return out


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between two groups —
    the A/B comparison primitive (does segment A's balance really
    differ from segment B's?). One row: per-group n/mean/variance,
    the t statistic, and the Welch–Satterthwaite degrees of freedom.

    t = (mean_a − mean_b) / sqrt(va/na + vb/nb),
    df = (va/na + vb/nb)² / ((va/na)²/(na−1) + (vb/nb)²/(nb−1)),
    with v the SAMPLE variance (n−1 denominator, computed from the
    same moment sums as everything else in this module).

    Scale: a conditional-moment aggregate — one pass, one global
    reduce of 6 doubles; the two groups are filtered with CASE inside
    the aggregate, so no second scan and no join.
    """
    v = F.col(value_col)
    # NULL samples are skipped ENTIRELY (standard stats semantics):
    # the group-size counts must use the same null-excluding predicate
    # as the moment sums, or a null-valued row inflates n while
    # contributing nothing to the sums and silently biases mean/var
    in_a = (F.col(group_col) == group_a) & v.isNotNull()
    in_b = (F.col(group_col) == group_b) & v.isNotNull()
    m = df.filter(in_a | in_b).agg(
        F.sum(in_a.cast("double")).alias("na"),
        F.sum(F.when(in_a, v).otherwise(F.lit(0.0))).alias("sa"),
        F.sum(F.when(in_a, v * v).otherwise(F.lit(0.0))).alias("qa"),
        F.sum(in_b.cast("double")).alias("nb"),
        F.sum(F.when(in_b, v).otherwise(F.lit(0.0))).alias("sb"),
        F.sum(F.when(in_b, v * v).otherwise(F.lit(0.0))).alias("qb"),
    )
    # 3VL-safe degenerate guards: a group with n <= 1 has no sample
    # variance (NULL, not a 0/0 NaN), which nulls t/df downstream —
    # the same contract as grouped_ols' zero-variance guard
    mean_a = F.when(F.col("na") > 0, F.col("sa") / F.col("na"))
    mean_b = F.when(F.col("nb") > 0, F.col("sb") / F.col("nb"))
    var_a = F.when(
        F.col("na") > 1,
        (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na"))
        / (F.col("na") - 1),
    )
    var_b = F.when(
        F.col("nb") > 1,
        (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb"))
        / (F.col("nb") - 1),
    )
    se2_a = var_a / F.col("na")
    se2_b = var_b / F.col("nb")
    t = (mean_a - mean_b) / F.sqrt(se2_a + se2_b)
    dof = ((se2_a + se2_b) * (se2_a + se2_b)) / (
        se2_a * se2_a / (F.col("na") - 1) + se2_b * se2_b / (F.col("nb") - 1)
    )
    return m.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        # variances are O(1e7) for balance-like values — 4 decimals
        # keeps the rounding threshold ~50x above double-sum jitter
        F.round(var_a, 4).alias("var_a"),
        F.round(var_b, 4).alias("var_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Logistic regression (distributed full-batch gradient descent)
# ---------------------------------------------------------------------------

#: Fixed-step full-batch GD hyperparameters for the registry entry.
#: lr is an exact power of two so ``lr * grad`` is an EXACT double op
#: (no extra rounding surface between the engines).
LOGREG_STEPS = 3
LOGREG_LR = 0.5


def _logreg_base(
    df: DataFrame,
    features: list[tuple[str, Column]],
    label: Column,
) -> DataFrame:
    """Narrow projected training frame: one double column per feature
    plus the 0/1 double label ``y``. Everything downstream (trainer,
    evaluators) scans this frame, never the source table."""
    return df.select(
        *[expr.cast("double").alias(name) for name, expr in features],
        label.cast("double").alias("y"),
    )


def _z_col(w: list[float], names: list[str]) -> Column:
    """Linear score ``w·x`` as a literal-weight expression — the
    weights are embedded as literals so the whole score stays inside
    whole-stage codegen (no UDF, no broadcast)."""
    z = F.lit(w[0])
    for j, name in enumerate(names):
        z = z + F.lit(w[j + 1]) * F.col(name)
    return z


def logreg_weights(
    base: DataFrame,
    names: list[str],
    steps: int = LOGREG_STEPS,
    lr: float = LOGREG_LR,
) -> list[float] | None:
    """Run the full-batch GD trajectory over a :func:`_logreg_base`
    frame and return the trained ``[bias, w_1, …]`` vector, or ``None``
    for an empty training set. One distributed aggregation pass per
    step; the driver holds only the O(model) weight row (the k-means
    precedent). Extracted from :func:`logreg_train` so evaluation
    operators (ROC/AUC, calibration) can score with the SAME
    deterministic trajectory without retraining per entry."""
    w = [0.0] * (1 + len(names))
    for _ in range(steps):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z_col(w, names)))
        n = F.count(F.lit(1))
        updates = [
            F.round(
                F.lit(w[0])
                - F.lit(lr) * F.round(F.sum(p - F.col("y")) / n, 9),
                9,
            ).alias("b0")
        ]
        for j, name in enumerate(names):
            updates.append(
                F.round(
                    F.lit(w[j + 1])
                    - F.lit(lr)
                    * F.round(
                        F.sum((p - F.col("y")) * F.col(name)) / n, 9
                    ),
                    9,
                ).alias(f"b{j + 1}")
            )
        row = base.agg(*updates).first()
        if row is None or row[0] is None:
            return None
        w = [row[i] for i in range(len(w))]
    return w


def logreg_train(
    df: DataFrame,
    features: list[tuple[str, Column]],
    label: Column,
    steps: int = LOGREG_STEPS,
    lr: float = LOGREG_LR,
    weights: list[float] | None = None,
) -> DataFrame:
    """Binary logistic regression trained by ``steps`` rounds of
    full-batch gradient descent — the supervised counterpart of the
    k-means trajectory: a driver-held parameter vector refined by one
    distributed aggregation pass per round. Completes the modeling
    family (OLS fits a line, this fits a classifier) the reference's
    word-count MapReduce cannot express at all.

    Per round: ``p = sigmoid(w·x)`` is a literal-weight expression
    (whole-stage codegen, no UDF), the gradient is the MEAN of
    ``(p - y)·x_j`` — one partial+final aggregate of ``1 + |features|``
    doubles, the classic map-side-combine shape — and the update
    ``w_j ← round(w_j − lr·round(mean_j, 9), 9)`` happens IN-PLAN
    (Spark ``F.round`` is HALF_UP like the oracle's ``ROUND``) before
    the (1+|features|)-double row is fetched to the driver. The fetch
    is the k-means precedent: O(model), never O(data).

    Scale: ``steps`` scans of a narrow projected frame (persist it for
    the iteration at real scale), each reducing to one tree-aggregated
    gradient row. At 100 TB this is exactly how full-batch GD/L-BFGS
    outer loops are run on Spark.

    Determinism contract: gradients are MEANS rounded to 9 (cross-
    engine partial-sum jitter on a mean of n doubles is ~sqrt(n)·eps ≈
    1e-13 at sf1 — >3 orders inside the half-bucket); weights re-round
    to 9 after each exact ``lr`` multiply; the final metrics pass uses
    the rounded weights as literals, so accuracy's ``z >= 0`` decision
    boundary is the identical fixed-structure double expression on
    both engines. ``exp``/``ln`` may differ by 1 ulp between libms —
    per-row effects are ~1e-16 and mean out far below every rounding
    bucket.

    Returns one row per coefficient: ``(coef, weight)`` plus the
    training-set ``n_rows``, ``accuracy`` (threshold 0.5) and mean
    ``log_loss`` repeated on each row (the shape a model registry
    stores; the repeat keeps the result a single flat frame).
    """
    base = _logreg_base(df, features, label)
    names = [name for name, _ in features]
    w = (
        weights
        if weights is not None
        else logreg_weights(base, names, steps=steps, lr=lr)
    )
    if w is None:
        # empty training set: no gradient information — emit the
        # empty frame rather than iterating on NULL weights (the
        # k-means empty-input contract)
        return base.sparkSession.createDataFrame(
            [],
            "coef string, weight double, n_rows bigint, "
            "accuracy double, log_loss double",
        )

    def z_col() -> Column:
        return _z_col(w, names)

    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z_col()))
    pred = F.when(z_col() >= 0, F.lit(1.0)).otherwise(F.lit(0.0))
    loss = -(
        F.col("y") * F.log(p) + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
    )
    metrics = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum((pred == F.col("y")).cast("double"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("accuracy"),
        F.round(F.sum(loss) / F.count(F.lit(1)), 6).alias("log_loss"),
    )
    coefs = F.array(
        *[
            F.struct(
                F.lit(c).alias("coef"), F.lit(wj).alias("weight")
            )
            for c, wj in zip(["bias"] + names, w)
        ]
    )
    return metrics.select(
        F.explode(coefs).alias("c"), "n_rows", "accuracy", "log_loss"
    ).select("c.coef", "c.weight", "n_rows", "accuracy", "log_loss")


# ---------------------------------------------------------------------------
# Registry queries
# ---------------------------------------------------------------------------


def lineitem_logreg_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: logistic regression predicting
    ``l_returnflag = 'R'`` from scaled quantity / discount / extended
    price (3 full-batch GD steps, lr=0.5). Feature scalings are fixed
    constants — data-independent, so the whole trajectory is
    reproducible without a standardization pre-pass."""
    li = load_table(spark, sf_dir, "lineitem")
    # the trajectory is shared with the AUC/calibration entries via
    # the session model cache — training happens once per session
    _, w = _registry_lineitem_model(spark, sf_dir)
    return logreg_train(
        li,
        features=_lineitem_features(),
        label=(F.col("l_returnflag") == "R").cast("int"),
        weights=w,
    )


def lineitem_price_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: per-returnflag regression of extended price on
    quantity (unit-price trend by flag)."""
    return grouped_ols(
        load_table(spark, sf_dir, "lineitem"),
        x_col="l_quantity",
        y_col="l_extendedprice",
        group_cols=["l_returnflag"],
    ).orderBy("l_returnflag")


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: Pearson correlation matrix over lineitem's four
    numeric measures."""
    return corr_matrix(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def segment_balance_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: Welch t-test of customer account balance,
    BUILDING vs MACHINERY segments."""
    return welch_ttest(
        load_table(spark, sf_dir, "customer"),
        value_col="c_acctbal",
        group_col="c_mktsegment",
        group_a="BUILDING",
        group_b="MACHINERY",
    )


def grouped_mode(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group MODE (most frequent value) with a deterministic
    tie-break (highest count, then smallest value) plus its count and
    share — the categorical companion to the moment aggregates.
    Engines disagree on native ``mode()`` tie-breaking, so the modal
    pick is expressed explicitly: value-count aggregate → per-group
    rank → keep rank 1. Two shuffles ((group, value) counts, then the
    group window over the distinct-value table — value-cardinality
    sized, not row-sized).

    Null semantics (conventional MODE, matching SQL aggregate
    null-skipping): NULL values are NOT modal candidates — they are
    filtered before counting, so ``modal_share``'s denominator is the
    group's NON-NULL row count and a group whose values are all NULL
    emits no row. Without the filter, Spark's ASC (NULLS FIRST) vs
    DuckDB's default (NULLS LAST) tie-break would also diverge on any
    nullable value column. The tie-break still uses asc_nulls_last as
    a structural belt: the ordering stays engine-portable even if a
    caller re-composes this window over nullable values."""
    from pyspark.sql import Window

    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy(*group_cols)
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("n"), F.asc_nulls_last(value_col)
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .withColumn("_tot", F.sum("n").over(total))
        .filter(F.col("_rn") == 1)
        .select(
            *group_cols,
            F.col(value_col).alias("modal_value"),
            F.col("n").alias("modal_count"),
            F.round(F.col("n") / F.col("_tot"), 6).alias("modal_share"),
        )
    )


def orders_modal_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: modal order priority per status, with count and
    share."""
    return grouped_mode(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        ["o_orderstatus"],
    )


# ---------------------------------------------------------------------------
# Model evaluation: binned ROC (AUC / Gini / KS) and calibration.
#
# The missing half of the training story: logreg_train fits and reports
# threshold-0.5 accuracy, but ranking quality (AUC) and probability
# quality (calibration) are what an ML platform actually gates deploys
# on. Both are HISTOGRAM reductions — the score distribution is
# aggregated into a FIXED number of bins (one narrow shuffle keyed by
# bin id), and every statistic is derived from the ≤ n_bins-row
# histogram. That is the 100 TB shape: the only global ordering happens
# on the bounded histogram frame (a single-partition window over ≤1024
# rows — O(n_bins), independent of data size), never on the data. The
# exact Mann-Whitney AUC would need a global rank over all rows; the
# binned estimator replaces it with "ties within a bin get half
# credit", which IS the exact AUC of the binned score — deterministic,
# SQL-expressible, and the industry-standard approximation at scale.
# ---------------------------------------------------------------------------

ROC_BINS = 1024
CALIBRATION_BINS = 10


def logreg_score(base: DataFrame, w: list[float]) -> DataFrame:
    """Score a :func:`_logreg_base` frame with trained weights:
    ``(p, y)`` where ``p = round(sigmoid(w·x), 9)``. The round-9 makes
    the score a 9-decimal value both engines agree on bit-for-bit
    (same fixed-structure literal expression; ``exp`` ulp differences
    sit ~7 orders below the bucket), so downstream binning is
    cross-engine deterministic."""
    names = [c for c in base.columns if c != "y"]
    z = _z_col(w, names)
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    return base.select(p.alias("p"), F.col("y"))


def _score_bin(n_bins: int) -> Column:
    """Histogram bin of score column ``p``: two-sided clamp into
    ``[0, n_bins-1]``. The scored contract is p ∈ [0, 1] (p = 1.0
    folds into the top bin), but a caller handing the generic (p, y)
    API an out-of-range score must not silently corrupt the cumulative
    histogram with a negative or overflowing bin id — out-of-range
    mass lands in the edge bins instead (round-9 ADVICE item; pinned
    by test_bin_clamps_out_of_range_scores)."""
    return F.greatest(
        F.lit(0),
        F.least(F.floor(F.col("p") * n_bins).cast("int"), F.lit(n_bins - 1)),
    )


def roc_auc_binned(scored: DataFrame, n_bins: int = ROC_BINS) -> DataFrame:
    """Binned ROC summary of a ``(p, y)`` scored frame: one row with
    ``(n_rows, n_pos, n_neg, n_bins, auc, gini, ks)``.

    Pipeline: ``bin = least(floor(p·n_bins), n_bins−1)`` → per-bin
    ``(n, pos)`` aggregate (one narrow shuffle, map-side combined) →
    cumulative window over the ≤ n_bins-row histogram → final
    single-row reduce. AUC is the exact probability that a random
    positive outranks a random negative *under the binned score*, ties
    counting half: ``Σ_b pos_b·(cum_neg_<b + neg_b/2) / (n_pos·n_neg)``.
    KS is the max over bin boundaries of ``|TPR − FPR|``; Gini is
    ``2·AUC − 1``.

    Determinism: every term is a ratio/product of exact integer-valued
    doubles (counts and half-counts are exact binary fractions; partial
    sums stay exact below 2^53), so no summation-order jitter exists
    anywhere — the round-6 on the emitted statistics is cosmetic
    except for the two integer divisions. Degenerate inputs (single
    class, empty) yield NULL auc/gini/ks rather than a division error.
    """
    binned = scored.select(
        _score_bin(n_bins).alias("bin"),
        "y",
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n_b"),
        F.sum("y").alias("pos_b"),
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per_bin = hist.select(
        "n_b",
        "pos_b",
        (F.col("n_b") - F.col("pos_b")).alias("neg_b"),
        F.sum("pos_b").over(wcum).alias("cum_pos"),
        F.sum(F.col("n_b") - F.col("pos_b")).over(wcum).alias("cum_neg"),
        F.sum("pos_b").over(wtot).alias("tot_pos"),
        F.sum(F.col("n_b") - F.col("pos_b")).over(wtot).alias("tot_neg"),
    )
    contrib = F.col("pos_b") * (
        (F.col("cum_neg") - F.col("neg_b"))
        + F.lit(0.5) * F.col("neg_b")
    )
    # |TPR − FPR| at each bin boundary; a zero denominator (single-
    # class input) nulls the term and propagates NULL through MAX
    ks_term = F.when(
        (F.col("tot_pos") > 0) & (F.col("tot_neg") > 0),
        F.abs(
            F.col("cum_pos") / F.col("tot_pos")
            - F.col("cum_neg") / F.col("tot_neg")
        ),
    )
    agg = per_bin.agg(
        F.coalesce(F.sum("n_b"), F.lit(0.0)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum("pos_b"), F.lit(0.0))
        .cast("bigint")
        .alias("n_pos"),
        F.coalesce(F.sum("neg_b"), F.lit(0.0))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(contrib).alias("_u"),
        F.max(ks_term).alias("_ks"),
    )
    denom = F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    auc = F.when(denom > 0, F.round(F.col("_u") / denom, 6))
    return agg.select(
        "n_rows",
        "n_pos",
        "n_neg",
        F.lit(n_bins).alias("n_bins"),
        auc.alias("auc"),
        F.when(denom > 0, F.round(F.col("_u") / denom * 2 - 1, 6)).alias(
            "gini"
        ),
        F.round(F.col("_ks"), 6).alias("ks"),
    )


def calibration_table(
    scored: DataFrame, n_bins: int = CALIBRATION_BINS
) -> DataFrame:
    """Reliability table of a ``(p, y)`` scored frame: fixed uniform
    score bins (NOT quantiles — quantile edges would need a global
    sort; fixed edges keep the whole operator one narrow groupBy),
    each row ``(bin, n_rows, mean_score, frac_positive)``. A
    well-calibrated model has ``mean_score ≈ frac_positive`` per bin.
    ``mean_score`` is a mean of round-9 scores (summation-order jitter
    ~n·eps, >6 orders inside the round-6 bucket); ``frac_positive`` is
    a ratio of exact counts."""
    binned = scored.select(
        _score_bin(n_bins).alias("bin"),
        "p",
        "y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("p") / F.count(F.lit(1)), 6).alias("mean_score"),
            F.round(F.sum("y") / F.count(F.lit(1)), 6).alias(
                "frac_positive"
            ),
        )
        .orderBy("bin")
    )


#: Column names isotonic_calibration manufactures internally; a
#: caller-supplied group column with one of these names (or the
#: ``_ga_`` join-alias prefix) would resolve ambiguously in the
#: histogram pair join.
_ISO_INTERNAL_NAMES = frozenset(
    {"bin", "n", "pos", "i", "cn", "cp", "h", "j", "cn0", "cp0",
     "av", "mn", "mx", "p", "y", "n_rows", "rate", "iso"}
)


def isotonic_calibration(
    scored: DataFrame,
    n_bins: int = ROC_BINS,
    group_cols: tuple[str, ...] = (),
    weight_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """Isotonic (PAV) calibration of a ``(p, y)`` scored frame over
    the fixed score histogram — the non-parametric upgrade of
    :func:`calibration_table`: instead of reporting per-bin empirical
    rates it fits the monotone-nondecreasing map score→P(y=1) that
    minimizes squared error, which is what a pipeline applies to turn
    a ranking model's scores into usable probabilities.

    Distributed shape: ONE data scan builds the per-bin ``(n, pos)``
    histogram (map-side-combined hash agg); everything after operates
    on occupied-bin rows only (≤ n_bins, data-size-independent — at
    100 TB the scan is the entire cost). The fit itself uses the
    classic minimax closed form of isotonic regression (Robertson/
    Wright/Dykstra; Ayer et al. 1955):

        iso(i) = max_{h<=i} min_{j>=i} Av(h, j)

    where ``Av(h, j)`` is the pooled positive rate of occupied bins
    ``h..j``. A sequential PAV stack is O(bins) but inherently serial
    and order-dependent; the minimax form is O(bins²) pairs — trivial
    at histogram scale — and every term is a ratio of exact BIGINT
    prefix-sum differences through two window passes, so the DuckDB
    oracle replays it bit-for-bit (no pooled-average accumulation
    order to disagree on).

    Returns one row per occupied bin: ``(bin, n_rows, pos, rate,
    iso)`` with ``rate = pos/n`` raw and ``iso`` the fitted monotone
    rate, both rounded to 9.

    ``weight_cols=(wn, wpos)`` accepts a PRE-AGGREGATED scored frame
    (one row per (group..., p) cell with exact bigint row/positive
    counts — e.g. the GBT scorer's joint-histogram cells, r15
    optimization): the histogram's ``n``/``pos`` become Σwn/Σwpos,
    the same integers the per-row form counts, and everything after
    the histogram is untouched."""
    gc = list(group_cols)
    reserved = _ISO_INTERNAL_NAMES & set(gc)
    prefixed = [g for g in gc if g.startswith("_ga_")]
    if reserved or prefixed:
        # fail with intent (the quantile_bins guard idiom): a group
        # column named like an internal stage column resolves
        # ambiguously in the pair join and Spark either errors late or
        # silently binds the wrong side
        raise ValueError(
            "isotonic_calibration group_cols collide with internal "
            f"names: {sorted(reserved) + prefixed} (reserved: "
            f"{sorted(_ISO_INTERNAL_NAMES)} and the '_ga_' prefix)"
        )
    if weight_cols is not None:
        wn, wpos = weight_cols
        hist = (
            scored.select(*gc, _score_bin(n_bins).alias("bin"), wn, wpos)
            .groupBy(*gc, "bin")
            .agg(
                F.sum(wn).alias("n"),
                F.sum(wpos).alias("pos"),
            )
        )
    else:
        hist = (
            scored.select(*gc, _score_bin(n_bins).alias("bin"), "y")
            .groupBy(*gc, "bin")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("y").cast("bigint").alias("pos"),
            )
        )
    w_ord = Window.partitionBy(*gc).orderBy("bin")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx = hist.select(
        *gc,
        "bin",
        "n",
        "pos",
        F.row_number().over(w_ord).alias("i"),
        F.sum("n").over(w_cum).alias("cn"),
        F.sum("pos").over(w_cum).alias("cp"),
    )
    if weight_cols is None:
        # the occupied-bin index is consumed TWICE (both sides of the
        # range self-join); an eager localCheckpoint (the repo's
        # shared-stage idiom, e.g. the reused shingle table in
        # functions/dedup) materializes the ≤ n_bins-row frame so the
        # data scan runs exactly once — without it each consumer would
        # replay the scan. Pre-aggregated cells (the GBT scorer's
        # literal ≤ 4-rows-per-group frame) have no scan to replay, so
        # checkpointing them would only add one SQL execution.
        idx = idx.localCheckpoint(eager=True)
    a = idx.select(
        *[F.col(g).alias(f"_ga_{g}") for g in gc],
        F.col("i").alias("h"),
        (F.col("cn") - F.col("n")).alias("cn0"),
        (F.col("cp") - F.col("pos")).alias("cp0"),
    )
    b = idx.select(
        *gc, F.col("i").alias("j"), "bin", "n", "pos", "cn", "cp"
    )
    # histogram × histogram range join (≤ n_bins² rows per group,
    # never data): Av(h, j) = pooled rate of occupied bins h..j via
    # prefix-sum differences — exact BIGINTs into one IEEE division.
    # With group_cols the join gains the group-key equality, so each
    # group fits its own monotone map independently.
    cond = F.col("j") >= F.col("h")
    for g in gc:
        # eqNullSafe, not ==: a NULL group key forms a normal group
        # everywhere else in this operator (the windows partition it
        # like any value) — a plain-equality join here would silently
        # drop it between the hist and pair stages, inconsistent with
        # grouped quantile_bins where NULL groups are returned
        cond = cond & (F.col(f"_ga_{g}").eqNullSafe(F.col(g)))
    pairs = a.join(F.broadcast(b), cond).select(
        *gc,
        "h",
        "j",
        "bin",
        "n",
        "pos",
        (
            (F.col("cp") - F.col("cp0")) / (F.col("cn") - F.col("cn0"))
        ).alias("av"),
    )
    w_tail = (
        Window.partitionBy(*gc, "h")
        .orderBy(F.col("j").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_head = (
        Window.partitionBy(*gc, "j")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    iso = (
        pairs.select(
            *gc,
            "h",
            "j",
            "bin",
            "n",
            "pos",
            F.min("av").over(w_tail).alias("mn"),
        )
        .select(
            *gc,
            "h",
            "j",
            "bin",
            "n",
            "pos",
            F.max("mn").over(w_head).alias("mx"),
        )
        .filter(F.col("h") == F.col("j"))
    )
    return iso.select(
        *gc,
        "bin",
        F.col("n").alias("n_rows"),
        "pos",
        F.round(F.col("pos") / F.col("n"), 9).alias("rate"),
        F.round(F.col("mx"), 9).alias("iso"),
    )


# ---------------------------------------------------------------------------
# Out-of-fold target encoding
# ---------------------------------------------------------------------------

#: Fold count for out-of-fold statistics. 5 is the standard CV fold
#: count; the fold id is a pure function of the row key (md5), so the
#: assignment is reproducible across engines, retries, and re-runs.
N_ENC_FOLDS = 5

#: Additive-smoothing pseudo-count toward the fold-complement prior
#: (Micci-Barreca 2001's fixed-m variant — the data-independent choice
#: that keeps the expression exactly replayable). 20 is exactly
#: representable, so m·prior is a single IEEE multiply both engines
#: agree on.
ENC_SMOOTHING = 20.0


def _enc_fold(key_col: Column, n_folds: int) -> Column:
    """The fold id as a pure function of the row key: first 8 hex
    digits of md5, mod n_folds — ONE definition shared by the encoding
    fit and every consumer that re-derives row folds (the reliability
    audit), so the assignment cannot diverge between them. Mirrored
    textually by the oracles' ``('0x' || substr(md5(..), 1, 8))``."""
    return (
        F.conv(F.substring(F.md5(key_col), 1, 8), 16, 10).cast("bigint")
        % n_folds
    )


def target_encoding(
    df: DataFrame,
    cat_col: str,
    key_col: Column,
    label: Column,
    n_folds: int = N_ENC_FOLDS,
    m: float = ENC_SMOOTHING,
) -> DataFrame:
    """Out-of-fold smoothed target encoding — the leakage-safe form of
    the most common high-cardinality categorical feature in tabular
    pipelines. Rows are assigned a deterministic fold by content hash
    (md5 of the row key — never ``rand()``, so retries and both
    engines agree); the encoding a fold's rows receive is computed
    from the OTHER folds only::

        enc(c, f) = (pos_c − pos_{c,f} + m·prior_f)
                    / (n_c − n_{c,f} + m)
        prior_f   = (pos_total − pos_f) / (n_total − n_f)

    Distributed shape, sized for HIGH-cardinality categories (millions
    at 100 TB — the case target encoding exists for): ONE scan → hash
    agg to the (category × fold) cell grid (map-side combined; the
    shuffle carries partial counts, never rows). Per-category totals
    come from a window over the grid whose partitions hold ≤ n_folds
    rows each (bounded, skew-free); per-fold and global totals are
    n_folds-row / 1-row aggregates broadcast back — never an
    unpartitioned window over the category-cardinality-sized grid.
    Applying the encoding to rows afterward is a broadcast join
    against the grid this returns. A category seen only inside one
    fold degrades to the smoothed prior (denominator = m) rather than
    leaking its own rows.

    Returns one row per occupied (category, fold) cell: ``(category,
    fold, n, pos, prior, encoding)``, doubles rounded to 9."""
    base = df.select(
        F.col(cat_col).alias("category"),
        _enc_fold(key_col, n_folds).alias("fold"),
        label.cast("int").alias("y"),
    )
    # the cell grid feeds THREE consumers (category window, fold
    # totals, global totals); an eager localCheckpoint materializes
    # the categories × folds frame once so the data scan runs exactly
    # once — the grid is aggregate-sized (≤ |categories|·n_folds), so
    # the checkpoint is bounded even at 100 TB.
    cell = (
        base.groupBy("category", "fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        .localCheckpoint(eager=True)
    )
    w_cat = Window.partitionBy("category")
    per_cat = cell.select(
        "category",
        "fold",
        "n",
        "pos",
        F.sum("n").over(w_cat).alias("n_c"),
        F.sum("pos").over(w_cat).alias("pos_c"),
    )
    fold_tot = cell.groupBy("fold").agg(
        F.sum("n").alias("n_f"), F.sum("pos").alias("pos_f")
    )
    glob = cell.agg(
        F.sum("n").alias("nt"), F.sum("pos").alias("post")
    )
    g = per_cat.join(F.broadcast(fold_tot), "fold").crossJoin(
        F.broadcast(glob)
    )
    prior = (F.col("post") - F.col("pos_f")) / (F.col("nt") - F.col("n_f"))
    enc = (
        (F.col("pos_c") - F.col("pos")) + F.lit(m) * prior
    ) / ((F.col("n_c") - F.col("n")) + F.lit(m))
    out = g.select(
        "category",
        "fold",
        "n",
        "pos",
        F.round(prior, 9).alias("prior"),
        F.round(enc, 9).alias("encoding"),
    )
    # stamp the fit's fold count on the frame object itself (a plain
    # Python attribute — deliberately NOT schema metadata, which the
    # driver's schema compare could see) so _require_grid_folds can
    # catch BOTH mismatch directions with no Spark job; a grid built
    # elsewhere simply lacks the stamp and falls back to the
    # necessary-condition scan
    out._enc_n_folds = n_folds
    return out


def _lineitem_enc_key() -> Column:
    """The lineitem primary key as the fold-hash input — ONE
    definition shared by the encoding fit, the reliability audit's
    row-side re-derivation."""
    return F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )


def _registry_encoding_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FRAGILITY CONTRACT (r13 ADVICE): the ``_enc_n_folds`` stamp is
    # a plain Python attribute on the DataFrame OBJECT — any
    # transformation (select/filter/localCheckpoint/persist-reread)
    # returns a new object WITHOUT it, silently degrading
    # _require_grid_folds to the one-sided fallback scan. Registry
    # paths therefore cache and hand out the fit's frame UNTOUCHED
    # (target_encoding checkpoints internally, pre-stamp);
    # tests/test_round16_fixes.py pins that the cached frame stays
    # stamped. Consumers must not wrap it before passing it on.
    # Shared per session by the encoding entry and its reliability audit.
    return session_cache(
        spark,
        ("encoding_grid", sf_dir),
        lambda: target_encoding(
            load_table(spark, sf_dir, "lineitem"),
            "l_suppkey",
            _lineitem_enc_key(),
            F.col("l_returnflag") == "R",
        ),
    )


def lineitem_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: out-of-fold smoothed target encoding of the
    supplier key (the high-cardinality categorical) against the return
    label — md5-deterministic folds keyed by the lineitem primary key,
    complements from one cell-grid pass (session-cached, shared with
    the reliability audit)."""
    return _registry_encoding_grid(spark, sf_dir)


# ---------------------------------------------------------------------------
# Chi-square test of independence (+ Cramér's V)
# ---------------------------------------------------------------------------


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, with effect size (Cramér's V). One row per contingency
    cell — ``(a, b, observed, expected, contrib)`` — plus the table-
    level ``(chi2, dof, cramers_v, n_rows)`` repeated on each row (the
    flat-frame shape the other model/stats entries use).

    Shape: ONE groupBy over the data builds the R×S contingency table;
    row totals, column totals, grand total, and category cardinalities
    are window aggregates OVER THE CELL FRAME (≤ R·S rows — category-
    cardinality sized, never row sized), so the data is scanned exactly
    once. Rows where either column is NULL are excluded up front
    (pairwise-complete, the `_moments` convention).

    Determinism: observed/expected are exact integer-valued doubles
    (products < 2^53); each cell contribution is rounded to 9 before
    the ≤ R·S-term sum, whose order jitter is ulp-level against the
    round-6 emitted statistics.

    Zero cells: Pearson's statistic sums over ALL R×S cells — an
    absent (a, b) combination still contributes (0−e)²/e = e, so the
    full cross product of observed row/column categories is
    materialized (cross join of the two ≤R/≤S distinct frames, left
    join back, observed coalesced to 0) before expected/contrib. A
    groupBy alone silently drops those cells and understates chi² and
    Cramér's V whenever a combo is structurally absent (round-9
    ADVICE item; pinned by test_chi2_structural_zero_cell)."""
    a, b = F.col(col_a), F.col(col_b)
    observed = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    # R×S scaffold WITHOUT a second data scan: collapse the cell frame
    # (≤ R·S rows) to ONE row carrying the category sets plus an
    # observed-count map, then explode the full cross product and look
    # each cell up in the map. A distinct×distinct cross join + join
    # back reads the source 3× (the distinct exchanges differ, so
    # ReusedExchange never fires); this form is one linear branch —
    # the groupBy above stays the only scan (pinned by
    # test_chi2_single_scan_pushdown_and_pruning). The one-row state
    # is O(R·S) — category-cardinality, same envelope as the
    # single-partition window below. try_element_at, not element_at:
    # the missing keys are exactly the zero cells, and ANSI mode makes
    # element_at throw on them.
    one = observed.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.struct(a.alias("a"), b.alias("b")).alias("key"),
                    F.col("observed").alias("value"),
                )
            )
        ).alias("_m"),
        F.collect_set(col_a).alias("_as"),
        F.collect_set(col_b).alias("_bs"),
    )
    cells = (
        one.select(F.explode("_as").alias(col_a), "_bs", "_m")
        .select(col_a, F.explode("_bs").alias(col_b), "_m")
        .select(
            col_a,
            col_b,
            F.coalesce(
                F.try_element_at(
                    "_m", F.struct(a.alias("a"), b.alias("b"))
                ),
                F.lit(0).cast("long"),
            ).alias("observed"),
        )
    )
    wa = Window.partitionBy(col_a)
    wb = Window.partitionBy(col_b)
    wall = Window.partitionBy()
    n = F.sum("observed").over(wall).cast("double")
    expected = (
        F.sum("observed").over(wa).cast("double")
        * F.sum("observed").over(wb).cast("double")
        / n
    )
    with_e = cells.select(
        col_a,
        col_b,
        "observed",
        expected.alias("_e"),
        n.cast("bigint").alias("n_rows"),
        F.size(F.collect_set(col_a).over(wall)).alias("_r"),
        F.size(F.collect_set(col_b).over(wall)).alias("_s"),
    )
    # (o−e)·(o−e), not pow(·,2): plain multiplication is the identical
    # IEEE op on both engines, where pow goes through libm
    dev = F.col("observed") - F.col("_e")
    contrib9 = F.round(dev * dev / F.col("_e"), 9)
    chi2 = F.sum(contrib9).over(wall)
    min_dim = F.least(F.col("_r") - 1, F.col("_s") - 1)
    return (
        with_e.select(
            col_a,
            col_b,
            "observed",
            F.round("_e", 6).alias("expected"),
            F.round(contrib9, 6).alias("contrib"),
            F.round(chi2, 6).alias("chi2"),
            ((F.col("_r") - 1) * (F.col("_s") - 1)).alias("dof"),
            F.when(
                min_dim > 0,
                F.round(
                    F.sqrt(
                        chi2 / (F.col("n_rows").cast("double") * min_dim)
                    ),
                    6,
                ),
            ).alias("cramers_v"),
            "n_rows",
        )
        .orderBy(col_a, col_b)
    )


# ---------------------------------------------------------------------------
# Registry model cache + eval registry queries
# ---------------------------------------------------------------------------

def _lineitem_features() -> list[tuple[str, Column]]:
    """The registry lineitem model's feature map (fixed constant
    scalings — data-independent, so the trajectory is reproducible
    without a standardization pre-pass)."""
    return [
        ("x_qty", F.col("l_quantity") / 50),
        ("x_disc", F.col("l_discount")),
        ("x_price", F.col("l_extendedprice") / 100000),
    ]


def _registry_lineitem_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[float] | None]:
    """(base frame, trained weights) for the registry lineitem model;
    the weights are trained once per session and shared by the
    trainer, AUC and calibration entries."""
    base = _logreg_base(
        load_table(spark, sf_dir, "lineitem"),
        _lineitem_features(),
        (F.col("l_returnflag") == "R").cast("int"),
    )
    w = session_cache(
        spark,
        ("lineitem_model", sf_dir),
        lambda: logreg_weights(
            base, [name for name, _ in _lineitem_features()]
        ),
    )
    return base, w


def lineitem_logreg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: binned ROC summary (AUC / Gini / KS, 1024 score
    bins) of the registry logreg model on its training frame — the
    ranking-quality half of model evaluation."""
    base, w = _registry_lineitem_model(spark, sf_dir)
    if w is None:
        return spark.createDataFrame(
            [],
            "n_rows bigint, n_pos bigint, n_neg bigint, n_bins int, "
            "auc double, gini double, ks double",
        )
    return roc_auc_binned(logreg_score(base, w))


def lineitem_logreg_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: 10-bin reliability table of the registry logreg
    model — the probability-quality half of model evaluation."""
    base, w = _registry_lineitem_model(spark, sf_dir)
    if w is None:
        return spark.createDataFrame(
            [],
            "bin int, n_rows bigint, mean_score double, "
            "frac_positive double",
        )
    return calibration_table(logreg_score(base, w))


def lineitem_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: isotonic (PAV) calibration of the registry
    logreg model's round-9 scores over the 1024-bin histogram — the
    fitted monotone score→probability map, via the exactly-replayable
    minimax closed form."""
    base, w = _registry_lineitem_model(spark, sf_dir)
    if w is None:
        return spark.createDataFrame(
            [],
            "bin int, n_rows bigint, pos bigint, rate double, iso double",
        )
    return isotonic_calibration(logreg_score(base, w))



def _registry_scored_with_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame | None:
    """The registry model's round-9 scored frame WITH the l_linestatus
    segment riding along — the input of the per-segment calibration.
    Reuses the session-cached trained weights (one trajectory per
    session); the score expression is the same literal-weight codegen
    sigmoid as :func:`logreg_score` (which strips extra columns, hence
    this sibling)."""
    _, w = _registry_lineitem_model(spark, sf_dir)
    if w is None:
        return None
    feats = _lineitem_features()
    seg_base = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("seg"),
        *[expr.cast("double").alias(name) for name, expr in feats],
        (F.col("l_returnflag") == "R").cast("double").alias("y"),
    )
    z = _z_col(w, [name for name, _ in feats])
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    return seg_base.select("seg", p.alias("p"), F.col("y"))


def lineitem_status_isotonic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: PER-SEGMENT isotonic calibration — the monotone
    score→probability map fit independently per l_linestatus over the
    same 1024-bin histogram (a model can be well calibrated globally
    yet biased within a segment; the per-segment fit is the audit AND
    the fix). Same minimax closed form with the segment key on every
    window and on the pair join."""
    scored = _registry_scored_with_status(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [],
            "seg string, bin int, n_rows bigint, pos bigint, "
            "rate double, iso double",
        )
    return isotonic_calibration(scored, group_cols=("seg",))



def lineitem_fold_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the encoding reliability audit split BY FOLD —
    the leakage detector's variance view: one fold whose
    mean_encoding↔frac_positive gap diverges from its peers indicates
    fold-dependent leakage or a broken fold hash; a healthy
    out-of-fold encoding has indistinguishable per-fold reliability.
    Shares the session-cached grid with the other encoding entries."""
    li = load_table(spark, sf_dir, "lineitem")
    return encoding_reliability(
        li,
        "l_suppkey",
        _lineitem_enc_key(),
        F.col("l_returnflag") == "R",
        grid=_registry_encoding_grid(spark, sf_dir),
        per_fold=True,
    )


def lineitem_status_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the encoding reliability audit split BY DATA
    SEGMENT (l_linestatus) — completes the per-segment audit matrix
    (model scores: :func:`lineitem_status_isotonic`; encoded feature:
    this entry). The grid stays the unsplit session-cached supplier
    fit — the encoding a pipeline ships is ONE map — so a divergent
    segment here means the shared encoding is biased within that
    segment, the audit a global reliability table cannot see. Counts
    marginalize exactly back to :func:`lineitem_encoding_reliability`
    (pinned in tests)."""
    li = load_table(spark, sf_dir, "lineitem")
    return encoding_reliability(
        li,
        "l_suppkey",
        _lineitem_enc_key(),
        F.col("l_returnflag") == "R",
        grid=_registry_encoding_grid(spark, sf_dir),
        segment_col="l_linestatus",
    )


def lineitem_chi2_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: chi-square independence test of return flag vs
    line status, with per-cell contributions and Cramér's V."""
    return chi_square_independence(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus"
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

#: Bootstrap replicate count: 40 makes the 95% CI an EXACT
#: order-statistic definition — trim exactly one replicate mean from
#: each side (0.025 · 40 = 1), so ci_lo/ci_hi are the 2nd and 39th
#: order statistics of the replicate means, an integer-rank rule both
#: engines replay without percentile-interpolation ambiguity.
BOOTSTRAP_REPLICAS = 40

#: Poisson(1) inverse-CDF thresholds (cumulative pmf at k = 0..4):
#: the Poisson bootstrap (Chamandy et al. 2012, "Estimating
#: Uncertainty for Massive Data Streams" — public method) replaces
#: multinomial resampling with independent per-row Poisson(1)
#: multiplicities, making each replicate a single weighted pass —
#: no data movement, embarrassingly parallel, the only bootstrap
#: that works at 100 TB. Weights capped at 5 (residual mass 6e-4).
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


def _shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width as an int. The conf is not
    guaranteed numeric: AQE-managed platforms report "auto" (r10
    ADVICE item) — fall back to the cluster's default parallelism
    rather than raising before the query even builds."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _poisson_weight(u: Column) -> Column:
    """Inverse-CDF Poisson(1) draw from a uniform in [0, 1)."""
    w: Column = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    return w


def bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    n_replicas: int = BOOTSTRAP_REPLICAS,
) -> DataFrame:
    """Per-group 95% bootstrap confidence interval for the MEAN of
    ``value_col`` — the uncertainty-quantification member of the
    stats family (OLS/t-test/chi-square give parametric inference;
    this gives the distribution-free interval a data pipeline quotes
    when normality is not worth defending). One row per group:
    ``(group, n_rows, mean_value, ci_lo, ci_hi)``.

    Method: Poisson bootstrap — replicate ``b`` weights row ``i`` by
    ``Poisson(1)`` drawn via inverse CDF from the md5-uniform of
    ``(key, b)``, so the resample is DETERMINISTIC and identical in
    both engines (the docs_split hash idiom). Replicate means are
    weighted means; the CI trims exactly one replicate from each side
    (exact order statistics at B = 40).

    Scale: the explode is ×B on a two-column projection — one
    map-side-combinable groupBy of ``groups × B`` partial states; the
    order-statistic window runs on the B-row-per-group replicate
    frame. Value sums use the integer-cents trick, so every replicate
    mean is a ratio of exact integers — zero cross-engine jitter.
    """
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(key_col).cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    # Pre-spread the narrow (group, cents, key) projection across the
    # session's shuffle width BEFORE the ×B explode: the replicate
    # blow-up multiplies per-partition work 40-fold, so a source whose
    # parquet footprint reads as one or two partitions (true for the
    # fact table at every test SF — small files under
    # maxPartitionBytes) would otherwise run the whole md5+weight pass
    # on one core (measured 10 s → 1.5 s warm at sf0.1). The shuffle
    # itself carries only the 3-column projection.
    n_parts = _shuffle_width(df.sparkSession)
    rep = (
        df.select(
            F.col(group_col).alias("grp"),
            cents.alias("_c"),
            F.col(key_col).alias("_k"),
        )
        .repartition(n_parts)
        .select(
            "grp",
            "_c",
            "_k",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_replicas - 1))
            ).alias("b"),
        )
        .withColumnRenamed("_k", key_col)
        .withColumn("_w", _poisson_weight(u))
        .groupBy("grp", "b")
        .agg(
            F.sum(F.col("_w") * F.col("_c")).cast("long").alias("_wc"),
            F.sum("_w").cast("long").alias("_wn"),
        )
        .filter(F.col("_wn") > 0)
        .select(
            "grp",
            (
                F.col("_wc").cast("double")
                / F.col("_wn")
                / F.lit(100.0)
            ).alias("_m"),
        )
    )
    w_rank = Window.partitionBy("grp").orderBy("_m")
    ranked = rep.select(
        "grp",
        "_m",
        F.row_number().over(w_rank).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("_nb"),
    )
    ci = (
        ranked.filter(
            (F.col("_rn") == 2) | (F.col("_rn") == F.col("_nb") - 1)
        )
        .groupBy("grp")
        .agg(
            F.round(F.min("_m"), 6).alias("ci_lo"),
            F.round(F.max("_m"), 6).alias("ci_hi"),
        )
    )
    point = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0, 6)
        .alias("mean_value"),
    )
    return (
        point.join(ci, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            "mean_value",
            "ci_lo",
            "ci_hi",
        )
        .orderBy(group_col)
    )


def orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: 95% Poisson-bootstrap CI of mean order value
    per order priority (40 deterministic replicates)."""
    return bootstrap_mean_ci(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
    )


# ---------------------------------------------------------------------------
# Histogram-split decision stump / shallow tree
# ---------------------------------------------------------------------------

#: Equi-width bin count for the histogram-split trainer. 16 buckets is
#: the classic histogram-GBDT resolution/cost trade-off knob
#: (LightGBM-style binned split finding, public method); the split
#: search cost is O(features x bins) per node regardless of data size.
N_STUMP_BINS = 16

#: Fixed equi-width binning table: (feature, column, op, constant).
#: Edges are DATA-INDEPENDENT constants (the logreg fixed-scaling
#: precedent) spanning the generator's value ranges — quantity 1..50,
#: discount 0..0.1, extendedprice ~900..105000 — so the whole trainer
#: is reproducible without a min/max pre-pass and the oracle can
#: replay the identical arithmetic. ``*``/``/`` by an exactly-parsed
#: double literal is a single IEEE op, bit-identical across engines.
STUMP_BINS: tuple[tuple[str, str, str, float], ...] = (
    ("qty", "l_quantity", "*", 0.32),
    ("disc", "l_discount", "*", 160.0),
    ("price", "l_extendedprice", "/", 6875.0),
)

#: The stump/tree label: same target as the registry logreg model.
_STUMP_LABEL_SQL = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"


def _stump_bin_col(col: str, op: str, k: float) -> Column:
    scaled = (
        F.col(col).cast("double") * F.lit(k)
        if op == "*"
        else F.col(col).cast("double") / F.lit(k)
    )
    return F.least(F.lit(N_STUMP_BINS - 1), F.floor(scaled).cast("int"))


def stump_bin_sql(col: str, op: str, k: float) -> str:
    """The oracle-side rendering of :func:`_stump_bin_col` — one
    definition table (``STUMP_BINS``), two mechanical renderings, so
    the binning arithmetic cannot diverge between engines."""
    return (
        f"LEAST({N_STUMP_BINS - 1}, CAST(FLOOR(CAST({col} AS DOUBLE) "
        f"{op} CAST({k} AS DOUBLE)) AS INT))"
    )


def gini_gain_sql() -> str:
    """Gini-gain expression over cumulative histogram counts
    ``(nl, posl, nt, post)`` — parent impurity minus the
    count-weighted child impurities, rounded to 9 (the repo's
    integer-input double contract: both engines evaluate the identical
    expression tree over identical BIGINTs, so the pre-round doubles
    are already bit-equal; the round is belt-and-braces for the hash).
    The Spark build in :func:`_split_gains` mirrors this text
    term-for-term."""
    parent = "1.0 - (post/nt)*(post/nt) - ((nt-post)/nt)*((nt-post)/nt)"
    left = "1.0 - (posl/nl)*(posl/nl) - ((nl-posl)/nl)*((nl-posl)/nl)"
    right = (
        "1.0 - ((post-posl)/(nt-nl))*((post-posl)/(nt-nl)) "
        "- (((nt-nl)-(post-posl))/(nt-nl))*(((nt-nl)-(post-posl))/(nt-nl))"
    )
    return (
        f"ROUND(({parent}) - (nl/nt) * ({left}) "
        f"- ((nt-nl)/nt) * ({right}), 9)"
    )


def _cum_counts(hist: DataFrame, node_cols: list[str]) -> DataFrame:
    """Cumulative boundary counts over a (node..., feature, bin, n,
    pos) histogram: per candidate boundary ``bin <= split_bin`` the
    left-side prefix sums (``nl``/``posl``) and the node totals
    (``nt``/``post``) — one window pass over histogram rows,
    empty-child boundaries dropped. The Gini split search
    (:func:`_split_gains`) consumes this frame."""
    part = [*node_cols, "feature"]
    w_cum = Window.partitionBy(*part).orderBy("bin")
    w_all = Window.partitionBy(*part)
    return hist.select(
        *node_cols,
        "feature",
        F.col("bin").alias("split_bin"),
        F.sum("n").over(w_cum).alias("nl"),
        F.sum("pos").over(w_cum).alias("posl"),
        F.sum("n").over(w_all).alias("nt"),
        F.sum("pos").over(w_all).alias("post"),
    ).filter(F.col("nl") < F.col("nt"))


def _split_gains(hist: DataFrame, node_cols: list[str]) -> DataFrame:
    """Candidate-split gain table from a binned label histogram
    ``(node..., feature, bin, n, pos)``: cumulative prefix counts per
    (node, feature) ordered by bin give, for every boundary, the left/
    right child counts in one window pass over the HISTOGRAM (tiny:
    features x bins rows per node — never the data), then the Gini
    gain of splitting at ``bin <= split_bin``. Splits with an empty
    child (nl == nt at the last bin) are not candidates.

    Expression mirrors :func:`gini_gain_sql` term-for-term — the
    cross-engine determinism contract is identical integer counts
    through an identical IEEE expression tree."""
    cum = _cum_counts(hist, node_cols)
    nl, posl, nt, post = (F.col(c) for c in ("nl", "posl", "nt", "post"))
    nr, posr = nt - nl, post - posl
    parent = (
        F.lit(1.0) - (post / nt) * (post / nt) - ((nt - post) / nt) * ((nt - post) / nt)
    )
    g_left = (
        F.lit(1.0) - (posl / nl) * (posl / nl) - ((nl - posl) / nl) * ((nl - posl) / nl)
    )
    g_right = (
        F.lit(1.0) - (posr / nr) * (posr / nr) - ((nr - posr) / nr) * ((nr - posr) / nr)
    )
    gain = F.round(parent - (nl / nt) * g_left - (nr / nt) * g_right, 9)
    return cum.select(
        *node_cols,
        "feature",
        "split_bin",
        nl.alias("n_left"),
        posl.alias("pos_left"),
        nr.alias("n_right"),
        posr.alias("pos_right"),
        gain.alias("gain"),
    )


def _stump_binned(df: DataFrame) -> DataFrame:
    """One narrow projection: the three bin columns plus the 0/1 label."""
    return df.select(
        *[
            _stump_bin_col(col, op, k).alias(f"b_{name}")
            for name, col, op, k in STUMP_BINS
        ],
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )


def _stump_hist(binned: DataFrame, node_cols: list[str]) -> DataFrame:
    """Per-(node, feature, bin) label histogram in ONE scan: each row
    explodes into |features| (feature, bin) pairs, then a hash
    aggregate with map-side partial combine reduces to features x bins
    x nodes rows — the distributed histogram-GBDT primitive (the
    shuffle carries only partial histograms, never rows)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("feature"), F.col(f"b_{name}").alias("bin")
            )
            for name, *_ in STUMP_BINS
        ]
    )
    return (
        binned.select(*node_cols, F.explode(pairs).alias("p"), "y")
        .groupBy(*node_cols, "p.feature", "p.bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").cast("bigint").alias("pos"))
    )


def _joint_bin_hist(binned: DataFrame, gc: list[str]) -> DataFrame:
    """Collapse a ``_stump_binned``-contract frame to its EXACT joint
    bin histogram: one row per occupied (group..., b_qty, b_disc,
    b_price) cell carrying the cell's row count and positive count
    (``_jn``/``_jpos`` — both exact integers). Lazy:
    :func:`_joint_cells` collects it for the driver-side booster and
    scorer, and :func:`tree_depth2`, which regroups the cells in
    Spark, checkpoints it first.

    r15 OPTIMIZATION (guide §1.2 "the distributed algorithm", §2.3
    "aggregate before you shuffle"): the multi-stage histogram
    trainers (gbt_boost, tree_depth2) previously scanned the DATA
    once per stage/level, yet each stage's
    per-(feature, bin) histogram — including the carried membership
    sums — is a pure function of the three bin columns, and therefore
    of this joint histogram: a stage's membership indicator ``m_i``
    is decided by (f_i, t_i) against the row's bins, so
    ``Σ_rows m_i·y == Σ_cells m_i(cell)·_jpos`` exactly (integer
    arithmetic end to end — no FP is introduced or reordered).
    Aggregating the joint cells ONCE (≤ Π|bins| = 4096 rows on the
    16-bin fixed grid, ≤ |groups|·10³ on the equi-depth buckets) and
    deriving every stage from the cells (the booster and its scorer
    on the driver, the tree by regrouping the checkpointed cells)
    replaces K+1 full data scans with ONE — the LightGBM-style
    histogram-reuse step.
    At 100 TB the win is the same or larger: the shuffle already
    carried only partial histograms; now the later stages don't
    re-read and re-bin the fact table either. Every double downstream
    is computed from the SAME integers through the SAME IEEE
    expression tree, so results are bit-identical to the per-row
    histogram (pinned against :func:`_stump_hist` in
    tests/test_r15_optimization.py)."""
    return (
        binned.groupBy(*gc, *[f"b_{name}" for name, *_ in STUMP_BINS])
        .agg(
            F.count(F.lit(1)).alias("_jn"),
            F.sum("y").cast("bigint").alias("_jpos"),
        )
    )


def _joint_cells(binned: DataFrame, gc: list[str]) -> dict[tuple, list]:
    """Collect :func:`_joint_bin_hist` of ``binned`` once, as the
    driver-side booster's input: per group key, the cells ``(bins, n,
    pos)`` with ``bins`` in :data:`STUMP_BINS` order (≤ 4,096 cells
    per group on the fixed grid, ≤ 10³ on the equi-depth buckets)."""
    groups: dict[tuple, list] = {}
    for r in _joint_bin_hist(binned, gc).collect():
        groups.setdefault(tuple(r[: len(gc)]), []).append(
            (tuple(r[len(gc): -2]), r["_jn"], r["_jpos"])
        )
    return groups


def _stump_hist_from_joint(
    frame: DataFrame, node_cols: list[str]
) -> DataFrame:
    """:func:`_stump_hist` derived from joint-histogram cells instead
    of data rows: ``frame`` carries the bin columns plus the exact
    cell weights ``_jn``/``_jpos`` (and optionally routing columns in
    ``node_cols``); the per-(node, feature, bin) counts are weighted
    sums of cells — identical integers to the per-row form."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("feature"), F.col(f"b_{name}").alias("bin")
            )
            for name, *_ in STUMP_BINS
        ]
    )
    return (
        frame.select(*node_cols, F.explode(pairs).alias("p"), "_jn", "_jpos")
        .groupBy(*node_cols, "p.feature", "p.bin")
        .agg(F.sum("_jn").alias("n"), F.sum("_jpos").alias("pos"))
    )


def decision_stump(df: DataFrame) -> DataFrame:
    """Histogram-split decision stump: the best ``bin <= t`` split per
    feature by Gini gain, with the global winner flagged — the split
    chooser every histogram-GBDT level runs.

    Plan: one scan (explode -> partial/final hash agg to 48 histogram
    rows), then windows + ranking over the HISTOGRAM only. At 100 TB
    the scan is the entire cost and it shuffles O(features x bins)
    partial counts per task — the canonical map-side-combine shape.

    Determinism: integer counts through the fixed-bin table; gain is
    the identical IEEE expression both engines evaluate (see
    :func:`gini_gain_sql`); ranking orders by (gain DESC, split_bin)
    within feature and (gain DESC, feature, split_bin) globally —
    total orders, rounded-9 gains."""
    gains = _split_gains(_stump_hist(_stump_binned(df), []), [])
    w_feat = Window.partitionBy("feature").orderBy(
        F.col("gain").desc(), F.col("split_bin")
    )
    w_glob = Window.orderBy(F.col("gain").desc(), "feature", "split_bin")
    return (
        gains.select(
            "*",
            F.row_number().over(w_feat).alias("_rf"),
            F.row_number().over(w_glob).alias("_rg"),
        )
        .filter(F.col("_rf") == 1)
        .select(
            "feature",
            "split_bin",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            "gain",
            (F.col("_rg") == 1).alias("is_root"),
        )
    )


def lineitem_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: per-feature best histogram split (and the global
    root) for ``l_returnflag = 'R'`` over fixed 16-bin features."""
    return decision_stump(load_table(spark, sf_dir, "lineitem"))


def tree_depth2(
    df: DataFrame | None,
    binned: DataFrame | None = None,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Greedy depth-2 histogram tree: choose the root split (as
    :func:`decision_stump`), route every row to its L/R child with the
    root choice joined in as a broadcast 1-row scalar (the
    pagerank-scalar idiom, over the materialized root frame), then
    run the SAME histogram split search per child.
    The emitted child-split rows carry the four leaf populations
    (n/pos of each grandchild) — the depth-2 tree's leaf stats.

    Plan: ONE data scan total — the joint bin histogram
    (:func:`_joint_bin_hist`) is collapsed once; level 1's 48-row
    histogram and level 2's routed 96-row histogram are exact
    weighted regroups of the same checkpointed cells (the L/R routing
    is a pure function of the bin columns). Everything after the scan
    operates on histogram rows only.

    A child with no valid split (single occupied bin on every feature)
    would emit no row — deterministic on both engines; with 16 bins
    over the generator's ranges both children always split.

    ``binned`` swaps the bin definition (the gbt_boost contract —
    e.g. the equi-depth frame of :func:`_quantile_stump_binned`);
    the routing, ranking, and leaf arithmetic stay identical. The two
    frame parameters are mutually exclusive (r12 ADVICE): passing
    both would silently ignore ``df``, mislabeling a result built
    from a different table.

    With ``group_cols`` the whole tree fits per group (the grouped-
    :func:`gbt_boost` contract applied to the tree): each group
    elects its own root (the rank window partitions by group), the
    routing join becomes a broadcast equi-join against the
    ≤ |groups|-row root frame, and the per-child split search
    partitions by (group, node) — still one data scan for ALL
    groups. ``binned`` must carry the group columns."""
    if (df is None) == (binned is None):
        raise ValueError(
            "tree_depth2 takes exactly one input frame: df (fixed "
            "equi-width bins) OR binned (a pre-binned _stump_binned-"
            "contract frame), not both"
        )
    _require_safe_group_cols("tree_depth2", group_cols)
    gc = list(group_cols)
    if binned is None:
        binned = _stump_binned(df)
    # both levels' histograms derive from the ONE joint-bin collapse
    # (see _joint_bin_hist) — the level-2 routing is a pure function
    # of the bin columns, so the child histograms are exact weighted
    # regroups of the same cells
    src = _joint_bin_hist(binned, gc).localCheckpoint(eager=True)
    gains1 = _split_gains(_stump_hist_from_joint(src, gc), gc)
    w_glob = Window.partitionBy(*gc).orderBy(
        F.col("gain").desc(), "feature", "split_bin"
    )
    root = (
        gains1.select(
            "*", F.row_number().over(w_glob).alias("_rg")
        )
        .filter(F.col("_rg") == 1)
        .select(
            *gc,
            F.col("feature").alias("root_feature"),
            F.col("split_bin").alias("root_bin"),
        )
    )
    # materialize the ≤ |groups|-row root frame before level 2 joins
    # it back (same values; the level-2 plan compiles against a tiny
    # ExistingRDD instead of re-nesting the level-1 histogram subtree
    # in its broadcast)
    root = root.localCheckpoint(eager=True)
    is_left = None
    for name, *_ in STUMP_BINS:
        term = (F.col("root_feature") == name) & (
            F.col(f"b_{name}") <= F.col("root_bin")
        )
        is_left = term if is_left is None else is_left | term
    routed = (
        src.join(F.broadcast(root), gc)
        if gc
        else src.crossJoin(F.broadcast(root))
    )
    leafed = routed.select(
        *gc,
        F.when(is_left, F.lit("L")).otherwise(F.lit("R")).alias("node"),
        "root_feature",
        "root_bin",
        *[f"b_{name}" for name, *_ in STUMP_BINS],
        "_jn",
        "_jpos",
    )
    node_cols = [*gc, "node", "root_feature", "root_bin"]
    gains2 = _split_gains(_stump_hist_from_joint(leafed, node_cols), node_cols)
    w_node = Window.partitionBy(*gc, "node").orderBy(
        F.col("gain").desc(), "feature", "split_bin"
    )
    return (
        gains2.select("*", F.row_number().over(w_node).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .select(
            *gc,
            "node",
            "root_feature",
            "root_bin",
            "feature",
            "split_bin",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            "gain",
        )
    )


def lineitem_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: greedy depth-2 histogram tree for
    ``l_returnflag = 'R'`` — root split + per-child splits with the
    four leaf populations."""
    return tree_depth2(load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Gradient-boosted stumps (squared loss, exact closed-form residuals)
# ---------------------------------------------------------------------------

#: Boosting shrinkage. 0.5 is exactly representable in binary, so the
#: stage-2 residual expression stays bit-identical across engines.
GBT_SHRINKAGE = 0.5

_SCALE9 = Decimal("1e-9")
#: Wide enough that quantizing any finite double to scale 9 keeps
#: every digit (the default 28 digits raise at |x| >= 1e19).
_ROUND9_CONTEXT = Context(prec=400)


def _round9(jvm, x: float) -> float:
    """Spark's ``round(x, 9)`` of a double, evaluated on the driver.

    Spark rounds ``java.math.BigDecimal.valueOf(x)`` HALF_UP at scale
    9. ``valueOf`` goes through Java's ``Double.toString``, which on
    Java 17 is not always the shortest decimal (JDK-4511638:
    2.82879384806159E17 prints as 2.82879384806159008E17), so the
    string is taken from the JVM: py4j returns that BigDecimal as an
    exact ``Decimal``. One py4j call per value. Adding 0.0 turns a
    negative value rounded to zero into +0.0, as Spark's BigDecimal
    result has no negative zero."""
    d = jvm.java.math.BigDecimal.valueOf(x)
    return float(d.quantize(_SCALE9, ROUND_HALF_UP, _ROUND9_CONTEXT)) + 0.0


def _boost_group(jvm, cells: list, n_stages: int):
    """The K-stage recursion over one group's joint-bin cells
    ``(bins, n, pos)``, ``bins`` in :data:`STUMP_BINS` order. Returns
    ``(winners, ybar)`` with one unrounded ``(feature, split_bin,
    n_left, n_right, score, gamma_left, gamma_right)`` per stage, or
    None when some stage has no candidate split.

    Per stage, each (feature, bin) sums the cells' ``n``, ``pos`` and,
    for every earlier stage ``i``, the count in stage i's left leaf.
    Every double is built from those integers by the left-associated
    expression the oracle renders (``_gbt_boost_oracle``), and ranking
    is by (round-9 score desc, feature, split_bin)."""
    nu = GBT_SHRINKAGE
    names = [name for name, *_ in STUMP_BINS]
    winners: list[tuple] = []
    ybar = None
    for _stage in range(n_stages):
        routes = [(names.index(f), t) for f, t, *_ in winners]
        gammas = [(gl, gr) for *_, gl, gr in winners]
        # per feature: bin -> [n, pos, m_1, ..., m_{k-1}]
        hist: list[dict] = [{} for _ in names]
        for bins, n, pos in cells:
            mem = [n if bins[fi] <= t else 0 for fi, t in routes]
            for fi, b in enumerate(bins):
                h = hist[fi].setdefault(b, [0] * (2 + len(winners)))
                h[0] += n
                h[1] += pos
                for i, m in enumerate(mem, start=2):
                    h[i] += m
        cands = []
        for name, per_bin in zip(names, hist):
            nt, post, *mt = (sum(c) for c in zip(*per_bin.values()))
            if ybar is None:
                ybar = post / nt
            sum_rt = post - nt * ybar
            for (gl, gr), m_t in zip(gammas, mt):
                sum_rt = sum_rt - nu * (m_t * gl + (nt - m_t) * gr)
            acc = [0] * (2 + len(winners))
            for b in sorted(per_bin):
                acc = [a + c for a, c in zip(acc, per_bin[b])]
                nl, posl, *ml = acc
                if nl >= nt:
                    continue
                sum_rl = posl - nl * ybar
                for (gl, gr), m_l in zip(gammas, ml):
                    sum_rl = sum_rl - nu * (m_l * gl + (nl - m_l) * gr)
                sum_rr = sum_rt - sum_rl
                score = _round9(
                    jvm, (sum_rl * sum_rl) / nl + (sum_rr * sum_rr) / (nt - nl)
                )
                cands.append(
                    (name, b, nl, nt - nl, score,
                     sum_rl / nl, sum_rr / (nt - nl))
                )
        if not cands:
            return None
        winners.append(min(cands, key=lambda c: (-c[4], c[0], c[1])))
    return winners, ybar


def lineitem_gbt_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: two gradient-boosting stages of histogram
    stumps (squared loss, shrinkage 0.5) on the fixed-bin lineitem
    features — the splits, leaf values, and SSE scores of the whole
    trajectory."""
    return gbt_boost(load_table(spark, sf_dir, "lineitem"), 2)


def gbt_boost(
    df: DataFrame | None,
    n_stages: int,
    binned: DataFrame | None = None,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """K-stage gradient boosting of histogram stumps under squared
    loss.

    Squared loss is the deliberate choice over AdaBoost/log-loss: its
    pseudo-residuals and leaf values are RATIOS OF COUNTS, not
    ``exp``/``ln`` of them, so every stage stays inside the repo's
    exact cross-engine arithmetic. Stage 0 is the mean ``ybar =
    post/nt``; stage k fits a stump to the residual by SSE reduction,
    the split maximizing ``sum_r_L²/n_L + sum_r_R²/n_R``.

    Why the recursion stays exact at any depth: after stage ``i`` the
    model correction is piecewise-constant over the stage-``i`` leaf
    membership ``m_i ∈ {0,1}``, so a bin's residual sum at stage ``k``
    collapses to integers times carried doubles::

        sum_r_k(bin) = (pos − n·ȳ) − Σ_{i<k} ν·(m_i_count·γ_i_L
                                              + (n − m_i_count)·γ_i_R)

    where ``m_i_count`` counts the bin's rows that fell in stage-i's
    left leaf. No per-row double accumulates anywhere, and the right
    sum is ``sum_r_total − sum_r_left`` at every stage, so the DuckDB
    oracle replays the identical left-associated IEEE expressions.

    Plan: the data is collapsed ONCE to its joint bin histogram
    (:func:`_joint_bin_hist`, ≤ Π|bins| = 4,096 cells per group on the
    fixed grid) and collected; since a cell's membership in every
    leaf is a pure function of its bins, all K stages run on the
    driver over those integers (:func:`_boost_group`). The state is
    bounded by the bin grid, never by the data. At 100 TB the one scan
    shuffles O(Π bins) partial cells per task and nothing else runs
    on the cluster. The result comes back as a literal plan (Range +
    Generate; no rescan, no Python worker).

    Returns one row per stage: ``(stage, feature, split_bin, n_left,
    n_right, gamma_left, gamma_right, score)``, γ rounded to 9,
    ranking by the rounded-9 score with (feature, split_bin)
    tie-break; rounding reproduces Spark's ``round`` (:func:`_round9`).

    With ``group_cols`` the WHOLE recursion runs per group (the
    per-segment trainer a partitioned population gets): each group
    elects its own stage winners from its own cells, and a group with
    no candidate split at some stage drops out. The caller supplies a
    ``binned`` frame that carries the group columns (grouped
    :func:`_quantile_stump_binned` for per-group adaptive bucket
    grids, or any _stump_binned-contract frame with the group key
    attached). Output gains the group columns: one row per (group...,
    stage)."""
    if n_stages < 1:
        raise ValueError("n_stages must be >= 1")
    _require_safe_group_cols("gbt_boost", group_cols)
    gc = list(group_cols)
    # ``binned`` swaps the bin DEFINITION (e.g. the equi-depth
    # bucket maps of _quantile_stump_binned) while the recursion,
    # ranking, and carried-scalar arithmetic stay byte-identical —
    # the frame must carry the _stump_binned contract
    # (b_qty/b_disc/b_price ints + 0/1 y). The two frame parameters
    # are mutually exclusive (r12 ADVICE): passing both would
    # silently ignore ``df``, mislabeling a result built from a
    # different table.
    if (df is None) == (binned is None):
        raise ValueError(
            "gbt_boost takes exactly one input frame: df (fixed "
            "equi-width bins) OR binned (a pre-binned _stump_binned-"
            "contract frame), not both"
        )
    if binned is None:
        binned = _stump_binned(df)
    spark = binned.sparkSession
    jvm = spark._jvm
    rows = []
    for key, cells in _joint_cells(binned, gc).items():
        model = _boost_group(jvm, cells, n_stages)
        if model is None:
            continue
        rows.extend(
            (*key, k, f, t, nl, nr, _round9(jvm, gl), _round9(jvm, gr), score)
            for k, (f, t, nl, nr, score, gl, gr) in enumerate(
                model[0], start=1
            )
        )
    i32, i64, f64 = T.IntegerType(), T.LongType(), T.DoubleType()
    cols = [
        ("stage", i32), ("feature", T.StringType()), ("split_bin", i32),
        ("n_left", i64), ("n_right", i64), ("gamma_left", f64),
        ("gamma_right", f64), ("score", f64),
    ]
    schema = T.StructType(
        [binned.schema[g] for g in gc] + [T.StructField(c, t) for c, t in cols]
    )
    return literal_frame(spark, schema, rows)


def lineitem_gbt_stages3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: THREE gradient-boosting stages of histogram
    stumps (squared loss, shrinkage 0.5) via the uniform closed-form
    recursion — one joint-histogram scan, the whole trajectory's
    splits, leaf values, and SSE scores."""
    return gbt_boost(load_table(spark, sf_dir, "lineitem"), 3)


# ---------------------------------------------------------------------------
# Equi-depth (quantile) feature discretization
# ---------------------------------------------------------------------------

#: Pass-1 resolution of the two-pass exact-rank equi-depth binner: a
#: fixed equi-width FINE histogram whose bins are then grouped into
#: equal-population buckets by rank arithmetic. 4096 bins of width 32
#: cover the l_extendedprice domain [900, 105000) with ~3.3k occupied
#: bins — fine enough that a bucket edge lands within one fine bin
#: (~0.03% of the domain) of the exact sample quantile, while the
#: pass-2 epilogue stays histogram-sized. The fine grid is
#: DATA-INDEPENDENT (fixed width, clamped edges) so the histogram is
#: reproducible across engines, retries, and data orders; only the
#: BUCKET EDGES adapt to the distribution — which is the whole point
#: of equi-depth over the stump family's fixed equi-width bins.
N_QTL_FINE = 4096
QTL_FINE_WIDTH = 32.0
N_QTL_BUCKETS = 10


def _qtl_fine(col: str, width: float, n_fine: int = N_QTL_FINE) -> Column:
    """The equi-width fine bin shared by every quantile-family stage
    (one definition, mirrored textually by the oracles)."""
    return F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_fine - 1),
            F.floor(F.col(col).cast("double") / F.lit(width)).cast("int"),
        ),
    )


def _qtl_fine_pairs(
    features: tuple[tuple[str, str, float], ...], n_fine: int = N_QTL_FINE
) -> Column:
    """One ``(feature, fb)`` struct per feature of a row, to explode
    into a per-feature fine histogram in one scan (the
    :func:`_stump_hist` idiom)."""
    return F.array(
        *[
            F.struct(
                F.lit(name).alias("feature"),
                _qtl_fine(col, w, n_fine).alias("fb"),
            )
            for name, col, w in features
        ]
    )


def _qtl_bucketed(
    hist: DataFrame, part: list[str], n_buckets: int
) -> DataFrame:
    """A fine histogram ``(part..., fb, n, ...)`` plus, per fine bin,
    its cumulative count ``cum``, its partition's total ``nt`` and its
    equi-depth ``bucket`` — the closed form of :func:`quantile_bins`,
    one window pass over histogram rows partitioned by ``part``. Every
    quantile-family stage buckets through this one definition."""
    w = Window.partitionBy(*part).orderBy("fb")
    c = hist.select(
        "*",
        F.sum("n")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("n")
        .over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("nt"),
    )
    return c.withColumn(
        "bucket",
        F.least(
            F.lit(n_buckets - 1),
            F.expr(f"CAST(((cum - n) * {n_buckets}) DIV nt AS INT)"),
        ),
    )


#: Column names the quantile family (quantile_bins /
#: quantile_stump_multi / grouped gbt_boost) manufactures internally;
#: a caller-supplied group column with one of these names would
#: resolve ambiguously in the histogram windows and group-bys (the
#: _ISO_INTERNAL_NAMES guard idiom, extended per the r12 ADVICE).
_QTL_INTERNAL_NAMES = frozenset(
    {"feature", "fb", "bin", "n", "pos", "cum", "nt", "post", "nl",
     "posl", "bucket", "split_bin", "gain", "y", "p", "score", "ybar",
     "n_left", "pos_left", "n_right", "pos_right", "is_root", "is_best",
     "n_fine_bins", "n_rows", "lo_bin", "hi_bin", "frac",
     "cand_nl", "cand_nt", "cand_gl", "cand_gr", "stage",
     "gamma_left", "gamma_right"}
)

#: Per-stage carried-column patterns of the boosting loop (f1/t1/
#: m1/gl1/... for any stage index) — reserved by prefix, like the
#: isotonic guard's ``_ga_`` prefix rule.
_QTL_STAGE_NAME_RE = re.compile(r"^(?:f|t|m|gl|gr|sc|nw|nr)\d+s?$")


def _require_safe_group_cols(fn: str, group_cols) -> None:
    """Fail with intent on group columns that collide with the
    quantile family's internal stage names (see _QTL_INTERNAL_NAMES):
    Spark would either error late in an ambiguous window or silently
    bind the wrong side of a histogram group-by."""
    bad = sorted(
        g
        for g in group_cols
        if g in _QTL_INTERNAL_NAMES
        or g.startswith("b_")
        or g.startswith("_")
        or _QTL_STAGE_NAME_RE.match(g)
    )
    if bad:
        raise ValueError(
            f"{fn} group_cols collide with internal stage names: {bad} "
            f"(reserved: {sorted(_QTL_INTERNAL_NAMES)}, the 'b_'/'_' "
            "prefixes, and per-stage names like f1/t1/m2/gl3)"
        )


def quantile_bins(
    df: DataFrame,
    col: str,
    width: float = QTL_FINE_WIDTH,
    n_fine: int = N_QTL_FINE,
    n_buckets: int = N_QTL_BUCKETS,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Equi-depth (quantile) discretization by the two-pass exact-rank
    scheme: pass 1 — the ONLY data scan — reduces the column to a
    fixed fine histogram (map-side-combined hash agg, ≤ n_fine rows);
    pass 2 is pure rank arithmetic over the histogram. No global sort,
    no approxQuantile nondeterminism: boundary ``q`` is *defined* as
    the least fine bin whose cumulative count reaches
    ``ceil(q·N/B)``, and with integer prefix sums that collapses to a
    closed form — fine bin ``f`` (cumulative count ``cum``, own count
    ``n``) belongs to bucket::

        bucket(f) = ((cum − n) · B) DIV N        -- exact integers

    (the count of boundaries strictly below ``f``; ``cum − n < N``
    guarantees the quotient < B, the LEAST clamp is provably inert and
    kept only as the repo's edge-bin idiom). Whole fine bins are
    allotted to buckets, so the discretization is a total function of
    the histogram — the property that makes it exactly
    oracle-replayable, unlike midpoint-interpolating quantiles.

    Scale: at 100 TB the scan is the entire cost; the shuffle carries
    ≤ n_fine partial counts per task and the cumulative window runs
    over the histogram only (single partition of ≤ n_fine rows — the
    accepted histogram idiom, see :func:`isotonic_calibration`).

    With ``group_cols`` the whole scheme runs PER GROUP (bucket edges
    adapt to each group's own distribution — the per-segment binning a
    feature pipeline ships): every window/aggregate gains the group
    key, so the cumulative window partitions are per-group
    histogram-sized — MORE parallel than the global form, never less.

    Returns one row per occupied (group..., bucket): ``(group...,
    bucket, n_fine_bins, n_rows, lo_bin, hi_bin, frac)`` —
    ``lo_bin·width`` is the bucket's value-domain edge."""
    if width <= 0 or n_fine < 1 or n_buckets < 2:
        # fail with intent: a non-positive width floors every value
        # into the edge bins and B < 2 makes "equi-depth" vacuous —
        # silent nonsense, not an error Spark would surface
        raise ValueError(
            "quantile_bins needs width > 0, n_fine >= 1, n_buckets >= 2 "
            f"(got width={width}, n_fine={n_fine}, n_buckets={n_buckets})"
        )
    _require_safe_group_cols("quantile_bins", group_cols)
    gc = list(group_cols)
    hist = (
        df.select(*gc, _qtl_fine(col, width, n_fine).alias("fb"))
        .groupBy(*gc, "fb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        _qtl_bucketed(hist, gc, n_buckets)
        .groupBy(*gc, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_fine_bins"),
            F.sum("n").alias("n_rows"),
            F.min("fb").alias("lo_bin"),
            F.max("fb").alias("hi_bin"),
            F.round(F.sum("n") / F.max("nt"), 9).alias("frac"),
        )
    )


def lineitem_price_quantile_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: exact equi-depth decile discretization of
    l_extendedprice via the two-pass rank scheme — the adaptive
    counterpart of the stump family's fixed equi-width bins (the
    binning any histogram-GBDT or monotone-feature pipeline wants when
    the feature is skewed)."""
    return quantile_bins(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")


def lineitem_flag_quantile_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: PER-GROUP equi-depth deciles of l_extendedprice
    keyed by l_returnflag — each flag gets bucket edges adapted to its
    own price distribution (the per-segment discretization form; same
    closed-form rank arithmetic, one more grouping column)."""
    return quantile_bins(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        group_cols=("l_returnflag",),
    )


def quantile_stump(
    df: DataFrame,
    col: str,
    label: Column,
    width: float = QTL_FINE_WIDTH,
    n_fine: int = N_QTL_FINE,
    n_buckets: int = N_QTL_BUCKETS,
) -> DataFrame:
    """Decision stump trained on the EQUI-DEPTH bucket feature — the
    composition a histogram-GBDT pipeline runs when the raw feature is
    skewed: discretize by quantiles (:func:`quantile_bins`), then
    search the best ``bucket <= t`` split by Gini gain
    (:func:`decision_stump`'s criterion). Equi-depth buckets place
    split candidates at population deciles, so every candidate
    boundary carries real mass — the fixed equi-width grid wastes
    candidates on empty tails.

    Distributed shape — ONE data scan total, strictly better than
    running the two parents separately: the scan builds the LABELED
    fine histogram ``(fb, n, pos)`` (map-side-combined hash agg,
    ≤ n_fine rows); the equi-depth bucket of each fine bin is the same
    closed-form rank expression :func:`quantile_bins` uses (pure
    arithmetic over histogram prefix sums — no second pass, because
    the bucket edges are a function of the counts the histogram
    already carries); folding ``(n, pos)`` to bucket granularity and
    the split-gain window (:func:`_split_gains`) then run over ≤
    n_buckets rows. At 100 TB the scan is the entire cost.

    Returns every candidate boundary (empty-child splits dropped, as
    in the stump): ``(feature, split_bin, n_left, pos_left, n_right,
    pos_right, gain, is_best)`` with ``split_bin`` the bucket id and
    the winner ranked by (gain DESC, split_bin) — total order,
    rounded-9 gains over exact BIGINT counts, so the oracle replays
    the identical expression tree."""
    if width <= 0 or n_fine < 1 or n_buckets < 2:
        raise ValueError(
            "quantile_stump needs width > 0, n_fine >= 1, n_buckets >= 2 "
            f"(got width={width}, n_fine={n_fine}, n_buckets={n_buckets})"
        )
    hist = (
        df.select(
            _qtl_fine(col, width, n_fine).alias("fb"),
            label.cast("int").alias("y"),
        )
        .groupBy("fb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    bhist = (
        _qtl_bucketed(hist, [], n_buckets)
        .select(F.col("bucket").alias("bin"), "n", "pos")
        .groupBy("bin")
        .agg(F.sum("n").alias("n"), F.sum("pos").alias("pos"))
        .select(F.lit(f"{col}_q{n_buckets}").alias("feature"), "*")
    )
    gains = _split_gains(bhist, [])
    w_best = Window.orderBy(F.col("gain").desc(), "split_bin")
    return gains.select(
        "*", (F.row_number().over(w_best) == 1).alias("is_best")
    )


def lineitem_binned_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the return-flag stump trained on equi-depth
    price DECILES — composes the two round-13 binning families
    (adaptive quantile_bins feature, histogram stump criterion) in one
    data scan; all nine populated candidate boundaries with the Gini
    winner flagged."""
    return quantile_stump(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


#: Per-feature fine-histogram widths for the MULTI-feature equi-depth
#: stump: (feature label, column, fine width). Widths are
#: DATA-INDEPENDENT exactly-representable doubles sized so each
#: domain spans well under N_QTL_FINE fine bins (price ~3.3k occupied
#: of 4096; quantity 1..50 -> 200 bins at 0.25; discount 0..0.1 ->
#: 200 bins at 0.0005) — the quantile_bins contract per feature.
QSTUMP_FEATURES: tuple[tuple[str, str, float], ...] = (
    ("price", "l_extendedprice", QTL_FINE_WIDTH),
    ("qty", "l_quantity", 0.25),
    ("disc", "l_discount", 0.0005),
)


def quantile_stump_multi(
    df: DataFrame,
    features: tuple[tuple[str, str, float], ...],
    label: Column,
    n_fine: int = N_QTL_FINE,
    n_buckets: int = N_QTL_BUCKETS,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The full split search a histogram-GBDT level runs over
    SKEW-ROBUST features: every feature gets its own equi-depth
    bucket grid (edges from its own fine-histogram closed form) and
    its own best ``bucket <= t`` Gini split, with the global root
    flagged — :func:`decision_stump`'s shape on
    :func:`quantile_stump`'s adaptive binning.

    Distributed shape — still ONE data scan for ALL features: each
    row explodes into |features| ``(feature, fine_bin)`` pairs (the
    :func:`_stump_hist` pattern), the hash agg map-side-combines to
    ≤ |features|·n_fine labeled histogram rows, and everything after
    — per-feature rank arithmetic for bucket edges, bucket fold,
    split gains, ranking — partitions BY FEATURE over histogram rows
    only. At 100 TB the scan is the entire cost and the shuffle
    carries partial histogram counts, never rows.

    Returns the best split per feature: ``(feature, split_bin,
    n_left, pos_left, n_right, pos_right, gain, is_root)`` ranked by
    (gain DESC, split_bin) within feature and (gain DESC, feature,
    split_bin) globally — total orders over rounded-9 gains.

    With ``group_cols`` the ENTIRE search runs per group: each
    segment gets its own adaptive bucket grids (edges fit to its own
    distributions — the per-segment form of :func:`quantile_bins`),
    its own per-feature winners, and its own root flag; every window
    and aggregate gains the group key, so the histogram partitions
    are per-group-sized — MORE parallel than the global form, never
    less (one segment's skew cannot serialize another's epilogue)."""
    if n_fine < 1 or n_buckets < 2 or any(w <= 0 for _, _, w in features):
        raise ValueError(
            "quantile_stump_multi needs widths > 0, n_fine >= 1, "
            f"n_buckets >= 2 (got features={features}, n_fine={n_fine}, "
            f"n_buckets={n_buckets})"
        )
    _require_safe_group_cols("quantile_stump_multi", group_cols)
    gc = list(group_cols)
    hist = (
        df.select(
            *gc,
            F.explode(_qtl_fine_pairs(features, n_fine)).alias("p"),
            label.cast("int").alias("y"),
        )
        .groupBy(*gc, "p.feature", "p.fb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    bhist = (
        _qtl_bucketed(hist, [*gc, "feature"], n_buckets)
        .select(*gc, "feature", F.col("bucket").alias("bin"), "n", "pos")
        .groupBy(*gc, "feature", "bin")
        .agg(F.sum("n").alias("n"), F.sum("pos").alias("pos"))
    )
    gains = _split_gains(bhist, gc)
    w_feat = Window.partitionBy(*gc, "feature").orderBy(
        F.col("gain").desc(), F.col("split_bin")
    )
    w_glob = Window.partitionBy(*gc).orderBy(
        F.col("gain").desc(), "feature", "split_bin"
    )
    return (
        gains.select(
            "*",
            F.row_number().over(w_feat).alias("_rf"),
            F.row_number().over(w_glob).alias("_rg"),
        )
        .filter(F.col("_rf") == 1)
        .select(
            *gc,
            "feature",
            "split_bin",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            "gain",
            (F.col("_rg") == 1).alias("is_root"),
        )
    )


def lineitem_multi_binned_stump(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the full skew-robust split search — best
    equi-depth-decile Gini split per feature (price/qty/discount,
    each on its own adaptive bucket grid) with the global root
    flagged, all from ONE exploded data scan."""
    return quantile_stump_multi(
        load_table(spark, sf_dir, "lineitem"),
        QSTUMP_FEATURES,
        F.col("l_returnflag") == "R",
    )


def _quantile_maps(
    df: DataFrame,
    features: tuple[tuple[str, str, float], ...],
    group_cols: tuple[str, ...] = (),
    cache_key: tuple | None = None,
) -> dict[tuple, dict[str, list[tuple[int, int]]]]:
    """The ``(fb, bucket)`` equi-depth assignment of every feature, fit
    in ONE scan and collected once: ``{group key: {feature: [(fb,
    bucket), …]}}``, each list sorted by ``fb``. Each row explodes into
    one ``(feature, fb)`` pair per feature, the hash aggregate
    map-side-combines to ≤ |groups|·|features|·n_fine histogram rows,
    and :func:`_qtl_bucketed` applies :func:`quantile_bins`' closed
    form per (group..., feature). Exact integers end to end; the
    oracle replays the same maps as CTEs.

    With ``group_cols`` every group gets its own maps (edges adapted
    to its own distributions — the per-segment form of
    :func:`quantile_bins`).

    ``cache_key`` (the registry passes ``(sf_dir,)``) shares the fit
    per session among every quantile-family registry entry, one entry
    per (cache_key, group_cols, features); a caller passing one
    asserts that ``df``'s content is a pure function of it. Keyless
    calls never cache."""
    _require_safe_group_cols("_quantile_maps", group_cols)
    gc = list(group_cols)
    if cache_key is not None:
        return session_cache(
            df.sparkSession,
            ("qtl_maps", cache_key, tuple(gc), tuple(features)),
            lambda: _quantile_maps(df, features, group_cols),
        )
    hist = (
        df.select(*gc, F.explode(_qtl_fine_pairs(features)).alias("p"))
        .groupBy(*gc, "p.feature", "p.fb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    maps: dict[tuple, dict[str, list[tuple[int, int]]]] = {}
    for r in (
        _qtl_bucketed(hist, [*gc, "feature"], N_QTL_BUCKETS)
        .select(*gc, "feature", "fb", "bucket")
        .collect()
    ):
        maps.setdefault(tuple(r[: len(gc)]), {}).setdefault(
            r["feature"], []
        ).append((r["fb"], r["bucket"]))
    for per_feature in maps.values():
        for pairs in per_feature.values():
            pairs.sort()
    return maps


def _step_edges(pairs: list[tuple[int, int]]) -> list[int]:
    """The edges of one fb-sorted ``(fb, bucket)`` map with step
    multiplicity: the first fb of bucket ``B_j`` appears ``B_j −
    B_{j−1}`` times (``B_0`` times for the first), so ``Σ [fb >=
    edge] = bucket(fb)`` for every occupied fine bin — also where one
    dominant fine bin skips whole buckets. Buckets never decrease
    along fb (they come from a running count)."""
    edges: list[int] = []
    prev = 0
    for fb, bucket in pairs:
        edges.extend([fb] * (bucket - prev))
        prev = bucket
    return edges


def _quantile_stump_binned(
    df: DataFrame,
    features: tuple[tuple[str, str, float], ...] = QSTUMP_FEATURES,
    group_cols: tuple[str, ...] = (),
    cache_key: tuple | None = None,
) -> DataFrame:
    """The :func:`_stump_binned` contract (``b_qty/b_disc/b_price``
    plus the 0/1 label) with EQUI-DEPTH buckets instead of the fixed
    equi-width grid, from the per-feature maps of
    :func:`_quantile_maps` (one scan and one collect for all
    features). Drop-in binned input for :func:`gbt_boost`.

    With ``group_cols`` each group gets its OWN per-feature bucket
    maps (edges fit to the group's distributions); the output carries
    the group columns, the grouped-:func:`gbt_boost` input contract.

    r15 OPTIMIZATION (guide §2.4/§3: remove the join outright): the
    per-row bucket is a pure CODEGEN STEP-COUNT EXPRESSION instead of
    a broadcast join — bucket(fb) = Σ over the map's bucket EDGES of
    ``fb >= edge``, each edge repeated (bucket step) times so skipped
    buckets (one fine bin straddling several equi-depth boundaries)
    count correctly (:func:`_step_edges`). Identical values to the
    join (equality pinned in tests/test_r15_optimization.py), with ≤
    (n_buckets−1) integer comparisons per feature per row instead of
    three broadcast hash joins per trainer scan. Past
    :data:`_QTL_EXPR_MAX_GROUPS` observed groups the maps are
    broadcast-joined instead (a CASE with thousands of branches would
    blow up codegen); the inner joins lose nothing, since every row's
    fine bin is in its group's map by construction."""
    gc = list(group_cols)
    maps = _quantile_maps(df, features, group_cols, cache_key)
    out = df.select(
        *gc,
        *[
            _qtl_fine(col, w).alias(f"_fb_{name}")
            for name, col, w in features
        ],
        F.expr(_STUMP_LABEL_SQL).alias("y"),
    )
    use_expr = len(maps) <= _QTL_EXPR_MAX_GROUPS
    _log.debug(
        "quantile bucket maps: %d groups, expression cap %d -> %s",
        len(maps),
        _QTL_EXPR_MAX_GROUPS,
        "step expression" if use_expr else "broadcast join",
    )
    for name, *_ in features:
        if use_expr:
            edges = {key: _step_edges(fm[name]) for key, fm in maps.items()}
            out = out.withColumn(
                f"b_{name}",
                _bucket_step_expr(F.col(f"_fb_{name}"), edges, gc),
            )
            continue
        schema = T.StructType(
            [df.schema[g] for g in gc]
            + [
                T.StructField(f"_fb_{name}", T.IntegerType()),
                T.StructField(f"b_{name}", T.IntegerType()),
            ]
        )
        m = df.sparkSession.createDataFrame(
            [(*key, fb, b) for key, fm in maps.items() for fb, b in fm[name]],
            schema,
        )
        out = out.join(F.broadcast(m), [*gc, f"_fb_{name}"])
    return out.select(
        *gc, *[f"b_{name}" for name, *_ in STUMP_BINS], "y"
    )


#: Group-count cap for the bucket-edge CASE expression: one branch
#: per group is ideal codegen for segment-like keys (a handful of
#: values) but a thousand-branch CASE would regress compile time —
#: past the cap the broadcast-join form is the right plan anyway.
_QTL_EXPR_MAX_GROUPS = 64


def _bucket_step_expr(
    fb: Column, edges: dict[tuple, list[int]], gc: list[str]
) -> Column:
    """The step-count bucket expression over collected edges: global
    form is a flat sum of ``fb >= edge`` casts; grouped form is a
    CASE with one branch per group (unseen groups cannot occur — the
    map was built from the same rows the expression is applied to)."""

    def steps(es: list[int]) -> Column:
        if not es:
            return F.lit(0)
        acc: Column = (fb >= F.lit(es[0])).cast("int")
        for e in es[1:]:
            acc = acc + (fb >= F.lit(e)).cast("int")
        return acc

    if not gc:
        return steps(edges[()])
    expr = None
    for gval, es in sorted(edges.items()):
        cond = None
        for c, v in zip(gc, gval):
            term = F.col(c) == F.lit(v)
            cond = term if cond is None else cond & term
        expr = (
            F.when(cond, steps(es))
            if expr is None
            else expr.when(cond, steps(es))
        )
    return expr


def lineitem_quantile_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: TWO-stage gradient boosting on EQUI-DEPTH
    decile features — the LightGBM-shaped trainer: adaptive quantile
    binning (the grid real histogram-GBDT implementations fit first)
    feeding the closed-form residual boosting loop. Identical
    recursion to :func:`lineitem_gbt_stages`' engine
    (:func:`gbt_boost`); only the bin definition changes, arriving
    per row from the bucket maps of :func:`_quantile_stump_binned`
    (one fine-histogram scan for all three features), so building
    the entry reads the data twice: the map fit and the joint
    histogram."""
    return gbt_boost(
        None,
        2,
        binned=_quantile_stump_binned(
            load_table(spark, sf_dir, "lineitem"),
            cache_key=(sf_dir,),
        ),
    )


def lineitem_quantile_gbt3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the quantile-binned booster carried to THREE
    stages — the same ``binned`` bridge, one more closed-form residual
    level (stage 3 carries both earlier memberships); the
    depth knob of the LightGBM-shaped trainer exercised on adaptive
    bins."""
    return gbt_boost(
        None,
        3,
        binned=_quantile_stump_binned(
            load_table(spark, sf_dir, "lineitem"),
            cache_key=(sf_dir,),
        ),
    )


def lineitem_quantile_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the greedy DEPTH-2 tree on EQUI-DEPTH decile
    features — :func:`tree_depth2`'s routing and per-child split
    search with the adaptive bin definition swapped in via the same
    bucket maps as :func:`lineitem_quantile_gbt`; completes the model
    stack on adaptive grids (stump → multi-stump → GBT → tree). One
    joint-histogram scan plus the one bucket-map fit scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return tree_depth2(
        None,
        binned=_quantile_stump_binned(
            li,
            cache_key=(sf_dir,),
        ),
    )


def lineitem_status_quantile_tree(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the greedy DEPTH-2 tree on equi-depth decile
    features PER SEGMENT (l_linestatus) — completes the per-segment
    model matrix on adaptive grids (stump → multi-stump → GBT →
    tree, each now with a grouped leg): every segment fits its own
    bucket maps, elects its own root, and split-searches its own two
    children; the routing crossJoin becomes a broadcast equi-join on
    the segment key. Still one joint-histogram scan for all segments;
    pinned definitionally equal to the global tree on each segment's
    filtered slice. Segment key aliased ``seg``."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "seg", F.col("l_linestatus")
    )
    return tree_depth2(
        None,
        binned=_quantile_stump_binned(
            li,
            group_cols=("seg",),
            cache_key=(sf_dir,),
        ),
        group_cols=("seg",),
    )


def lineitem_status_quantile_gbt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the quantile-binned booster PER SEGMENT
    (l_linestatus) — the grouped leg of the trainer family (SURVEY
    §7.9): each segment fits its OWN equi-depth bucket maps to its
    own feature distributions (grouped :func:`_quantile_maps`)
    and runs its OWN two-stage closed-form residual recursion
    (grouped :func:`gbt_boost` — per-segment histograms and stage
    winners from each segment's own cells). Definitionally equal to
    running the global trainer on each segment's filtered slice —
    pinned in tests — while still paying one joint-histogram data
    scan for ALL segments. Segment key aliased ``seg``, the per-segment family's
    column contract."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "seg", F.col("l_linestatus")
    )
    return gbt_boost(
        None,
        2,
        binned=_quantile_stump_binned(
            li,
            group_cols=("seg",),
            cache_key=(sf_dir,),
        ),
        group_cols=("seg",),
    )


def lineitem_status_quantile_gbt3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the per-segment quantile-binned booster at
    K = 3 — the depth knob on the GROUPED recursion: stage 3 carries
    BOTH earlier memberships (per-segment m1/m2 counts through the
    per-segment histograms), exercising the carried-membership arithmetic under
    grouping. Pinned greedy-prefix-stable against the K = 2
    per-segment entry (its first two stages equal
    :func:`lineitem_status_quantile_gbt` exactly, per segment)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "seg", F.col("l_linestatus")
    )
    return gbt_boost(
        None,
        3,
        binned=_quantile_stump_binned(
            li,
            group_cols=("seg",),
            cache_key=(sf_dir,),
        ),
        group_cols=("seg",),
    )


def lineitem_status_gbt_isotonic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: PER-SEGMENT ISOTONIC CALIBRATION of the
    grouped quantile-GBT's margin (SURVEY §7.10) — the standard
    deployment step after training: the shipped model's raw
    predictions (ybar + Σ ν·γ over the stage winners' leaves, the
    squared-loss booster's piecewise-constant margin) are fit to a
    monotone score→P(y=1) map PER SEGMENT via the same minimax
    closed form as :func:`lineitem_status_isotonic`. Composes the
    grouped booster and scorer (:func:`_qgbt_scored` over the
    per-segment equi-depth bins) with
    :func:`isotonic_calibration(group_cols)` — each segment
    calibrates its OWN model's scores on its own rows.

    Determinism: per-row scores use the SHIPPED (round-9) leaf
    values and round the sum to 9 before binning, so the oracle
    replays the identical IEEE expression tree through the same
    trainer CTE chain; the margin takes ≤ 4 distinct values per
    segment (2 stages × 2 leaves), so each segment's calibration is
    PAV over at most 4 occupied histogram bins — exactly the
    score-resolution a 2-stage stump ensemble ships.

    Scale: two data scans total, both map-side-combined — the one
    bucket-map fit for all features, and the joint-bin histogram
    (:func:`_joint_bin_hist`), collected once; trainer stages AND
    the scorer run on those cells on the driver (scores are a pure
    function of the bin columns, so the per-(seg, p) counts are exact
    sums of cell counts), and the isotonic epilogue reads ≤ 4 literal
    rows per segment."""
    return isotonic_calibration(
        _qgbt_scored(spark, sf_dir, grouped=True),
        group_cols=("seg",),
        weight_cols=("_jn", "_jpos"),
    )


def _qgbt_scored(
    spark: SparkSession, sf_dir: str, grouped: bool = False
) -> DataFrame:
    """The quantile-GBT scored frame, global or per-segment
    (``grouped=True`` fits per-segment maps and boosters, segment key
    aliased ``seg``). One scorer definition, both calibration entries.

    The joint-bin cells are collected once (:func:`_joint_cells`);
    per group the 2-stage booster runs on them (:func:`_boost_group`)
    and every cell is routed through both stages' winners exactly like
    the trainer's carried membership (gbt_boost's m_i definition).
    The score uses the SHIPPED round-9 leaf values with the sum
    rounded to 9, ``p = round((ybar + ν·leaf₁) + ν·leaf₂, 9)``, the
    oracle's identical IEEE tree; :func:`_round9` runs once per
    distinct value. A score is a pure function of the cell's bins, so
    the per-(group, p) counts are exact sums of cell counts.

    Output: a literal ``(group..., p, _jn, _jpos)`` frame, ≤ 4 rows
    per group (one per leaf pair); the consumer passes
    ``weight_cols=("_jn", "_jpos")`` to isotonic_calibration."""
    li = load_table(spark, sf_dir, "lineitem")
    gc: list[str] = []
    if grouped:
        li = li.withColumn("seg", F.col("l_linestatus"))
        gc = ["seg"]
    binned = _quantile_stump_binned(
        li, group_cols=tuple(gc), cache_key=(sf_dir,)
    )
    jvm = spark._jvm
    nu = GBT_SHRINKAGE
    names = [name for name, *_ in STUMP_BINS]
    rows = []
    for key, cells in _joint_cells(binned, gc).items():
        model = _boost_group(jvm, cells, 2)
        if model is None:
            continue
        winners, ybar = model
        stages = [
            (names.index(f), t, _round9(jvm, gl), _round9(jvm, gr))
            for f, t, _nl, _nr, _sc, gl, gr in winners
        ]
        weights: dict[tuple[float, float], list[int]] = {}
        for bins, n, pos in cells:
            leaves = tuple(
                gl if bins[fi] <= t else gr for fi, t, gl, gr in stages
            )
            w = weights.setdefault(leaves, [0, 0])
            w[0] += n
            w[1] += pos
        rows.extend(
            (*key, _round9(jvm, (ybar + nu * leaf1) + nu * leaf2), n, pos)
            for (leaf1, leaf2), (n, pos) in weights.items()
        )
    schema = T.StructType(
        [binned.schema[g] for g in gc]
        + [
            T.StructField("p", T.DoubleType()),
            T.StructField("_jn", T.LongType()),
            T.StructField("_jpos", T.LongType()),
        ]
    )
    return literal_frame(spark, schema, rows)


def lineitem_gbt_isotonic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: isotonic (PAV) calibration of the GLOBAL
    quantile-GBT margin — the ungrouped twin of
    :func:`lineitem_status_gbt_isotonic`, completing the trainer ↔
    calibration matrix (global trainer → global calibration,
    per-segment trainer → per-segment calibration): the shipped
    2-stage booster's raw predictions (≤ 4 distinct round-9 leaf
    sums) fit to one monotone score→P(y=1) map over the 1024-bin
    histogram. Same scorer definition (:func:`_qgbt_scored`), global
    PAV tail."""
    return isotonic_calibration(
        _qgbt_scored(spark, sf_dir), weight_cols=("_jn", "_jpos")
    )


#: Column set for the registry ANALYZE entry — lineitem's numeric
#: columns (ints and doubles; min/max canonicalized to round-9
#: doubles so both engines agree bit-for-bit).
LINEITEM_STATS_COLS: tuple[str, ...] = (
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
)


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a frame whose INPUT is too small to
    give its scan more than one split, so a per-row-heavy epilogue
    that would otherwise run inside the single scan task (here: the
    Expand of the multi-``count(distinct)`` ANALYZE plan, which
    duplicates every row |cols|+1-fold before the partial aggregate)
    uses every core instead of serializing on one.

    Scale-adaptive, never a constant (guide §2.5/§6): fires ONLY when
    the optimizer's size estimate says the whole input fits in a
    single scan split (``spark.sql.files.maxPartitionBytes``) — a
    table big enough to parallelize its own scan is returned
    untouched, so at 100 TB this is a structural no-op, never an
    extra full-table shuffle. The spread width follows the session's
    ``defaultParallelism`` (i.e. ``local[$SPARK_GRAFT_CPUS]`` in the
    harness), so the driver's lower-core bench runs adapt.

    Callers may only hang ORDER-INSENSITIVE aggregation downstream
    (counts, exact distinct, min/max): a round-robin shuffle reorders
    rows, which is invisible to those but not to double summation."""
    spark = df.sparkSession
    # py4j converts the Scala BigInt to a Python int directly — no
    # .toString() hop (r15 shipped one, whose AttributeError the old
    # bare except silently swallowed: the gate never evaluated and the
    # helper was a no-op — r15 VERDICT item 4). The size estimate and
    # the conf read are plain attribute/conf accesses on frames this
    # module itself builds; let any failure surface rather than hide a
    # broken gate behind an unconditional fallback again.
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    max_split = _parse_size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    # Floor as well as ceiling (both measured, r16): the spread pays a
    # roughly fixed round-robin shuffle + task-scheduling cost, repaid
    # by the single-task epilogue it parallelizes — which scales with
    # input bytes. Below ~1/32 of a split the epilogue is smaller than
    # the shuffle (events_table_stats: 0.73 s → 0.95 s WITH the
    # spread); above it the Expand win dominates (lineitem_table_stats
    # 2.79 s → 2.22 s). Both bounds derive from the split size, never
    # from the local core count.
    spread = max_split // 32 < size <= max_split
    _log.debug(
        "spread gate: size estimate %d B, split %d B -> %s",
        size,
        max_split,
        "spread" if spread else "keep",
    )
    if not spread:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def _parse_size_bytes(raw: str) -> int:
    """Byte count of a Spark size conf string. The engine session sets
    a bare digit string ("134217728") but a VANILLA session (the
    driver's oracle harness) reports the DEFAULT as "134217728b", and
    user overrides may carry any JVM size suffix — int() alone throws
    on both."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-z]*)\s*", raw.lower())
    if not m:
        raise ValueError(f"unparseable size conf {raw!r}")
    mult = {
        "": 1,
        "b": 1,
        "k": 1024,
        "kb": 1024,
        "m": 1024**2,
        "mb": 1024**2,
        "g": 1024**3,
        "gb": 1024**3,
        "t": 1024**4,
        "tb": 1024**4,
        "p": 1024**5,
        "pb": 1024**5,
    }.get(m.group(2))
    if mult is None:
        raise ValueError(f"unknown size suffix in {raw!r}")
    return int(m.group(1)) * mult


def table_stats(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """ANALYZE-style per-column statistics in ONE scan — the
    metastore stats a cost-based optimizer consumes (row count,
    null count, min/max bounds, exact NDV per column), computed as
    one aggregate over the table and exploded to one row per column.

    Distributed shape: multiple exact ``count(distinct col)`` in a
    single aggregate plan through Spark's Expand operator — still ONE
    data scan (plan-pinned), with the scan's rows duplicated
    |cols|+1-fold between scan and partial aggregate. That trade is
    right for an ANALYZE pass (it runs rarely, reads everything
    anyway, and exactness feeds the oracle); a 100 TB pipeline that
    refreshes stats continuously swaps ``approx_count_distinct``
    (HLL++, one expand-free pass, ~2% error) — the sketch sibling in
    functions/sketches.py — keeping this operator's shape.

    Returns one row per column: ``(col_name, n_rows, n_nulls,
    min_val, max_val, ndv)`` with min/max cast to round-9 doubles
    (numeric columns only — the canonical cross-engine form)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.min(c).cast("double").alias(f"_mn_{c}"),
            F.max(c).cast("double").alias(f"_mx_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
        ]
    # narrow first (project early), then spread a single-split scan so
    # the Expand runs on every core (r15; see _spread_small_scan —
    # counts/min/max/NDV are order-insensitive, values unchanged)
    row = _spread_small_scan(df.select(*cols)).agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{c}")).alias("n_nulls"),
            F.round(F.col(f"_mn_{c}"), 9).alias("min_val"),
            F.round(F.col(f"_mx_{c}"), 9).alias("max_val"),
            F.col(f"_nd_{c}").alias("ndv"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select(
        "s.*"
    )


def lineitem_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: ANALYZE-style table statistics over lineitem's
    numeric columns — see :func:`table_stats`."""
    return table_stats(
        load_table(spark, sf_dir, "lineitem"), LINEITEM_STATS_COLS
    )


#: The events table's numeric columns (ts is a timestamp and stays
#: outside the canonical-double min/max contract).
EVENTS_STATS_COLS: tuple[str, ...] = ("event_id", "user_id", "value")


def events_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: ANALYZE-style table statistics over the events
    table — the :func:`table_stats` operator on a second table,
    proving the renderer is table-generic (same one-scan Expand
    plan, same canonical round-9 double bounds)."""
    return table_stats(
        load_table(spark, sf_dir, "events"), EVENTS_STATS_COLS
    )


#: Ingest-batch count for the incremental-stats entry: the table is
#: treated as STATS_INGEST_BATCHES arrived batches (split on
#: l_orderkey residue — deterministic, all residues occupied at every
#: test SF), each contributing one mergeable partial-stats row.
STATS_INGEST_BATCHES = 4

#: Relative envelope for the merged-HLL NDV certification (same
#: 5-sigma-generous bound the sketch rollup entry uses: DataSketches
#: HLL at default lgConfigK=12 has rsd ~1.6%).
STATS_NDV_REL_BOUND = 0.10


def table_stats_incremental(
    df: DataFrame, cols: tuple[str, ...], batch: Column
) -> DataFrame:
    """The CONTINUOUS-REFRESH form of :func:`table_stats` — the swap
    its docstring names: per ingest batch, each column's statistics
    reduce to a MERGEABLE partial (row/null counts, min/max bounds,
    and a DataSketches HLL sketch for NDV — ``hll_sketch_agg``
    binary state, the same machinery as
    :func:`~inf2106_map_reduce_spark.functions.sketches.sketch_rollup_orders`);
    refreshing the table's stats after a new batch merges fixed-size
    partials (sums / min / max / ``hll_union_agg``) without ever
    rescanning history. This entry computes the partials for every
    batch and MERGES them, then certifies the merge against the
    whole-table truth:

    - counts and bounds merge EXACTLY (sum of partial counts, min of
      mins, max of maxes) — the oracle computes them straight off the
      whole table, so the hash match IS the merge-of-parts ==
      stats-of-whole proof for every exact field;
    - NDV merges as a sketch: the merged estimate is certified
      in-plan against a :data:`STATS_NDV_REL_BOUND` envelope of the
      exact distinct count (the audit scan a production refresh
      drops), emitted as a boolean the oracle pins TRUE.

    Scale: the refresh path touches ONE new batch + |cols| KB-sized
    sketches per merge — the Expand-plan exact-NDV pass (the one
    scan-row-duplicating cost of :func:`table_stats`) disappears
    from the steady state entirely. Returns one row per column:
    ``(col_name, n_batches, n_rows, n_nulls, min_val, max_val,
    ndv_exact, merged_within_bound)``."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.min(c).cast("double").alias(f"_mn_{c}"),
            F.max(c).cast("double").alias(f"_mx_{c}"),
            # string canonicalization: hll_sketch_agg takes
            # int/long/string/binary, not double — the cast is
            # injective over the corpus's non-negative numerics
            F.hll_sketch_agg(F.col(c).cast("string")).alias(f"_sk_{c}"),
        ]
    # NOT spread (r16): once the _spread_small_scan gate actually
    # fired (its r15 form was a verified no-op — see the helper), a
    # 4×4 interleaved A/B of all four per-site combinations landed
    # within noise (medians 2.08–2.16 s) — this plan's two scans each
    # pay their own shuffle, offsetting the Expand parallelism, so the
    # spread is rejected here on measurement
    partials = (
        df.withColumn("_b", batch)
        .select("_b", *cols)
        .groupBy("_b")
        .agg(*aggs)
    )
    m_aggs = [
        F.count(F.lit(1)).alias("_nb"),
        F.sum("_n").alias("_n"),
    ]
    for c in cols:
        m_aggs += [
            F.sum(f"_nn_{c}").alias(f"_nn_{c}"),
            F.min(f"_mn_{c}").alias(f"_mn_{c}"),
            F.max(f"_mx_{c}").alias(f"_mx_{c}"),
            F.hll_sketch_estimate(
                F.hll_union_agg(f"_sk_{c}")
            ).alias(f"_est_{c}"),
        ]
    merged = partials.agg(*m_aggs)
    exact = df.select(*cols).agg(
        *[F.countDistinct(c).alias(f"_nd_{c}") for c in cols]
    )
    row = merged.crossJoin(F.broadcast(exact))
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("_nb").cast("bigint").alias("n_batches"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{c}")).alias("n_nulls"),
            F.round(F.col(f"_mn_{c}"), 9).alias("min_val"),
            F.round(F.col(f"_mx_{c}"), 9).alias("max_val"),
            F.col(f"_nd_{c}").alias("ndv_exact"),
            (
                F.abs(F.col(f"_est_{c}") - F.col(f"_nd_{c}"))
                <= F.lit(STATS_NDV_REL_BOUND) * F.col(f"_nd_{c}")
            ).alias("merged_within_bound"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select(
        "s.*"
    )


def lineitem_stats_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the incremental (sketch-merged) table-stats
    refresh over lineitem's numeric columns — see
    :func:`table_stats_incremental`; batches split on the
    l_orderkey residue mod :data:`STATS_INGEST_BATCHES`."""
    return table_stats_incremental(
        load_table(spark, sf_dir, "lineitem"),
        LINEITEM_STATS_COLS,
        F.pmod(F.col("l_orderkey"), F.lit(STATS_INGEST_BATCHES)),
    )


def lineitem_status_multi_stump(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the multi-feature adaptive split search PER
    SEGMENT (l_linestatus) — each segment fits its own bucket grids
    to its own feature distributions and elects its own root, the
    per-segment form a depth-aware trainer runs on a partitioned
    population (and the stump-family completion of the per-segment
    matrix: calibration, encoding audit, and now the split search).
    Same one exploded scan; every epilogue window gains the segment
    key (aliased ``seg``, the per-segment family's column contract —
    see :func:`lineitem_status_isotonic`)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "seg", F.col("l_linestatus")
    )
    return quantile_stump_multi(
        li,
        QSTUMP_FEATURES,
        F.col("l_returnflag") == "R",
        group_cols=("seg",),
    )


# ---------------------------------------------------------------------------
# Per-category encoding reliability audit
# ---------------------------------------------------------------------------

#: Bin grid for the encoding audit — finer than the model-score
#: CALIBRATION_BINS (10) because smoothed out-of-fold encodings
#: CONCENTRATE near the global prior (m = 20 pseudo-counts shrink
#: every thin cell toward ~0.33 here): a decile grid collapses the
#: whole audit into 2 occupied rows, a centile grid resolves ~11 —
#: enough spread to actually see mis-calibration per encoding level.
ENC_RELIABILITY_BINS = 100


def encoding_reliability(
    df: DataFrame,
    cat_col: str,
    key_col: Column,
    label: Column,
    n_folds: int = N_ENC_FOLDS,
    m: float = ENC_SMOOTHING,
    n_bins: int = ENC_RELIABILITY_BINS,
    grid: DataFrame | None = None,
    per_fold: bool = False,
    segment_col: str | None = None,
) -> DataFrame:
    """Reliability audit of the out-of-fold target encoding: does the
    encoded value actually predict the label rate it claims? Every row
    receives its own (category, fold) cell's encoding — exactly the
    value a training pipeline would feed the model — and the rows are
    bucketed into fixed encoding centiles; a leakage-free, well-
    calibrated encoding has ``mean_encoding ≈ frac_positive`` per
    bucket (the :func:`calibration_table` contract applied to the
    feature instead of the model).

    Distributed shape: the grid fit is :func:`target_encoding`'s one
    cell-grid pass; APPLYING it is a second scan joined against the
    aggregate-sized grid — two scans total, inherent to out-of-fold
    semantics (a row's encoding depends on totals over all other
    rows). The join is left to AQE: at test scale the checkpointed
    grid's size stats make it a broadcast; at 100 TB-category scale it
    degrades to an orderly key-partitioned shuffle join rather than an
    OOM broadcast. Fold re-derivation shares :func:`_enc_fold` with
    the fit, so row→cell routing cannot diverge from the grid.

    Returns one row per occupied centile: ``(bin, n_rows,
    mean_encoding, frac_positive)``, round-6 like every reliability
    surface in the repo (means of round-9 doubles; jitter ≫ 6 orders
    inside the bucket). ``grid`` injects a prefit (checkpointed)
    grid — the registry path passes the session-cached fit so audit
    and encoding entry share one cell-grid pass. ``per_fold``
    adds the fold key to the output grouping — the leakage-variance
    view. ``segment_col`` adds a data segment key (as ``seg``) to the
    output grouping — the per-segment audit: the GRID stays the
    unsplit fit (the encoding a pipeline actually ships is one map),
    only the audit rows are split, so a feature can read calibrated
    in aggregate yet biased within a segment (the
    :func:`lineitem_status_isotonic` argument applied to the encoded
    feature). Count columns marginalize exactly back to the unsplit
    audit by construction — the pinned completeness property."""
    if grid is None:
        grid = target_encoding(df, cat_col, key_col, label, n_folds, m)
    else:
        _require_grid_folds(grid, n_folds)
    seg = [F.col(segment_col).alias("seg")] if segment_col else []
    base = df.select(
        *seg,
        F.col(cat_col).alias("category"),
        _enc_fold(key_col, n_folds).alias("fold"),
        label.cast("int").alias("y"),
    )
    joined = base.join(
        grid.select("category", "fold", "encoding"), ["category", "fold"]
    )
    enc_bin = F.greatest(
        F.lit(0),
        F.least(
            F.floor(F.col("encoding") * n_bins).cast("int"),
            F.lit(n_bins - 1),
        ),
    )
    n = F.count(F.lit(1))
    keys = (
        ([F.col("seg")] if segment_col else [])
        + ([F.col("fold")] if per_fold else [])
        + [enc_bin.alias("bin")]
    )
    return joined.groupBy(*keys).agg(
        n.alias("n_rows"),
        F.round(F.sum("encoding") / n, 6).alias("mean_encoding"),
        F.round(F.sum("y") / n, 6).alias("frac_positive"),
    )


def _require_grid_folds(grid: DataFrame, n_folds: int) -> None:
    """Fail with intent on a caller-supplied grid fit under a
    different fold count: the (category, fold) inner join silently
    drops every row whose re-derived fold has no grid cell, so a
    mismatched grid corrupts the consumer instead of erroring.

    A grid from :func:`target_encoding` carries its fit-time fold
    count as the ``_enc_n_folds`` frame attribute (r12 ADVICE): that
    path catches BOTH mismatch directions (more folds AND fewer) with
    no Spark job. A foreign grid without the stamp falls back to the
    necessary-condition scan (one job over the checkpointed
    aggregate-sized grid), which can only catch the more-folds side —
    a grid fit with fewer folds is indistinguishable from sparse fold
    occupancy; callers of unstamped grids own that side.

    The stamp is a plain Python attribute, NOT part of the plan: any
    transformation of the grid frame (``select``/``filter``/
    ``localCheckpoint``/persist-reread) returns a new object without
    it and silently lands here in the weaker fallback (r13 ADVICE).
    Pass the fit's frame untransformed — the registry cache does
    (see :func:`_registry_encoding_grid`), pinned in
    tests/test_round16_fixes.py."""
    fitted = getattr(grid, "_enc_n_folds", None)
    if fitted is not None:
        if fitted != n_folds:
            raise ValueError(
                f"grid was fit with n_folds={fitted} but the consumer "
                f"re-derives folds mod n_folds={n_folds}"
            )
        return
    max_fold = grid.agg(F.max("fold")).first()[0]
    if max_fold is not None and max_fold >= n_folds:
        raise ValueError(
            f"grid carries fold ids up to {max_fold} but the consumer "
            f"re-derives folds mod n_folds={n_folds} — the grid was "
            "fit under a different n_folds"
        )


def encoding_stump(
    df: DataFrame,
    cat_col: str,
    key_col: Column,
    label: Column,
    n_folds: int = N_ENC_FOLDS,
    m: float = ENC_SMOOTHING,
    n_bins: int = ENC_RELIABILITY_BINS,
    grid: DataFrame | None = None,
    segment_col: str | None = None,
) -> DataFrame:
    """Decision stump trained on the ENCODED categorical feature — the
    feature pipeline end to end: out-of-fold target encoding
    (:func:`target_encoding`) → fixed centile binning (the
    :func:`encoding_reliability` grid) → best ``bin <= t`` Gini split
    (:func:`decision_stump`'s criterion). This is the question a
    feature pipeline actually asks of a high-cardinality categorical:
    after leakage-safe encoding, where does the learned risk ordering
    split the label best — and is the gain worth shipping the
    feature?

    Distributed shape: the grid fit is the one cell-grid pass
    (session-shared in the registry), the apply is one scan joined
    against the aggregate-sized grid (AQE broadcast at test scale,
    orderly shuffle join at 100 TB-category scale), and the split
    search runs over the ≤ n_bins-row centile label histogram —
    data-independent epilogue, exactly the
    :func:`encoding_reliability` cost with a stump tail.

    Returns every candidate boundary (empty-child splits dropped):
    ``(feature, split_bin, n_left, pos_left, n_right, pos_right,
    gain, is_best)`` — the winner by (gain DESC, split_bin), total
    order over rounded-9 gains on exact BIGINT counts; the oracle
    composes the encoding CTEs with the shared Gini expression.
    ``segment_col`` runs the split search PER SEGMENT (as ``seg``)
    against the ONE unsplit grid — the per-segment-matrix contract of
    :func:`lineitem_status_reliability` applied to the split search:
    a segment whose best boundary (or gain) diverges is where the
    shared encoding stops transferring."""
    if grid is None:
        grid = target_encoding(df, cat_col, key_col, label, n_folds, m)
    else:
        _require_grid_folds(grid, n_folds)
    seg = [F.col(segment_col).alias("seg")] if segment_col else []
    gc = ["seg"] if segment_col else []
    base = df.select(
        *seg,
        F.col(cat_col).alias("category"),
        _enc_fold(key_col, n_folds).alias("fold"),
        label.cast("int").alias("y"),
    )
    joined = base.join(
        grid.select("category", "fold", "encoding"), ["category", "fold"]
    )
    enc_bin = F.greatest(
        F.lit(0),
        F.least(
            F.floor(F.col("encoding") * n_bins).cast("int"),
            F.lit(n_bins - 1),
        ),
    )
    hist = joined.groupBy(*gc, enc_bin.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    bh = hist.select(
        *gc,
        F.lit(f"{cat_col}_enc_q{n_bins}").alias("feature"),
        "bin",
        "n",
        "pos",
    )
    gains = _split_gains(bh, gc)
    w_best = Window.partitionBy(*gc).orderBy(
        F.col("gain").desc(), "split_bin"
    )
    return gains.select(
        "*", (F.row_number().over(w_best) == 1).alias("is_best")
    )


def lineitem_encoding_stump(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the return-flag stump trained on the
    supplier-key target encoding's centile bins — encode → bin →
    split end to end, sharing the session-cached grid with the other
    encoding entries."""
    li = load_table(spark, sf_dir, "lineitem")
    return encoding_stump(
        li,
        "l_suppkey",
        _lineitem_enc_key(),
        F.col("l_returnflag") == "R",
        grid=_registry_encoding_grid(spark, sf_dir),
    )


def lineitem_status_encoding_stump(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the encoded-feature stump PER SEGMENT
    (l_linestatus) — completes the stump leg of the per-segment
    matrix: the one shipped supplier encoding, split-searched within
    each segment (a diverging segment boundary or gain marks where
    the shared encoding stops transferring). Shares the session
    grid."""
    li = load_table(spark, sf_dir, "lineitem")
    return encoding_stump(
        li,
        "l_suppkey",
        _lineitem_enc_key(),
        F.col("l_returnflag") == "R",
        grid=_registry_encoding_grid(spark, sf_dir),
        segment_col="l_linestatus",
    )


def lineitem_encoding_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: centile reliability table of the supplier-key
    target encoding vs the return label — the audit that catches a
    leaky or mis-smoothed encoding before it trains a model (composes
    the §7.6 encoding with the round-8 reliability surface)."""
    li = load_table(spark, sf_dir, "lineitem")
    return encoding_reliability(
        li,
        "l_suppkey",
        _lineitem_enc_key(),
        F.col("l_returnflag") == "R",
        grid=_registry_encoding_grid(spark, sf_dir),
    )
