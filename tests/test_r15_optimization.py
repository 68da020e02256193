"""Round-15 optimization guards: the trainer-internals changes
(joint-histogram regroup, edge-expression bucket mapping) must be
pure PLAN changes — every value identical to the per-row / join
forms they replaced.

The optimizations under test:

- ``stats._bucket_edges`` / ``_bucket_step_expr`` —
  ``_quantile_stump_binned`` maps fine bins to equi-depth buckets
  with a codegen step-count expression (edges collected from the
  session-cached bucket map) instead of three broadcast joins.
- ``stats._joint_bin_hist`` / ``_stump_hist_from_joint`` — the
  multi-stage trainers collapse the data to its joint bin histogram
  ONCE and derive every stage's per-(feature, bin) histogram (incl.
  membership sums) as exact weighted regroups of the checkpointed
  cells; the histogram-equality test below pins the primitive, and
  the oracle parity suite pins every trainer's values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.tables import load_table


def _rows(df):
    return sorted(map(str, df.collect()))


def test_joint_hist_regroup_equals_per_row_hist(spark, sf_oracle):
    """The joint-cell weighted regroup must reproduce the per-row
    histogram EXACTLY (same bigint n/pos per (group, feature, bin)) —
    the primitive every trainer stage now rests on. Checked global
    and grouped."""
    li = load_table(spark, sf_oracle, "lineitem").withColumn(
        "seg", F.col("l_linestatus")
    )
    for gc in ([], ["seg"]):
        # the grouped form needs the group col on the binned frame
        binned = li.select(
            *gc,
            *[
                stats._stump_bin_col(col, op, k).alias(f"b_{name}")
                for name, col, op, k in stats.STUMP_BINS
            ],
            (F.col("l_returnflag") == "R").cast("int").alias("y"),
        )
        jh = stats._joint_bin_hist(binned, gc)
        assert _rows(stats._stump_hist_from_joint(jh, gc)) == _rows(
            stats._stump_hist(binned, gc)
        )


def test_bucket_expression_equals_join_global_and_grouped(
    spark, sf_oracle
):
    """The step-count expression and a broadcast join against the
    same bucket maps must bucket every row identically — the edges
    come from the same map, so any divergence is an edge-multiplicity
    bug."""
    li = load_table(spark, sf_oracle, "lineitem")
    for gc in ((), ("seg",)):
        d = (
            li.withColumn("seg", F.col("l_linestatus")) if gc else li
        )
        a = stats._quantile_stump_binned(d, group_cols=gc)
        b = d.select(
            *gc,
            *[
                stats._qtl_fine(col, w).alias(f"_fb_{name}")
                for name, col, w in stats.QSTUMP_FEATURES
            ],
            F.expr(stats._STUMP_LABEL_SQL).alias("y"),
        )
        for name, col, w in stats.QSTUMP_FEATURES:
            m = stats.quantile_bucket_map(d, col, w, group_cols=gc)
            b = b.join(
                F.broadcast(
                    m.select(
                        *gc,
                        F.col("fb").alias(f"_fb_{name}"),
                        F.col("bucket").alias(f"b_{name}"),
                    )
                ),
                [*gc, f"_fb_{name}"],
            )
        cols = [*gc, "b_qty", "b_disc", "b_price", "y"]
        assert _rows(a.groupBy(*cols).count()) == _rows(
            b.groupBy(*cols).count()
        ), gc


def test_bucket_edges_handle_skipped_buckets(spark):
    """A fine bin so dominant that the cumulative rank jumps several
    equi-depth boundaries in one step must still bucket exactly like
    the map: the edge list repeats that bin's first fb once per
    skipped bucket (the multiplicity contract of _bucket_edges)."""
    # 90% of rows in one fine bin: buckets 0..8 collapse onto it
    vals = [5.0] * 900 + [float(100 + 32 * i) for i in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    m = stats.quantile_bucket_map(df, "x", 32.0)
    edges = stats._bucket_edges(m, [])
    assert edges is not None
    want = {r["fb"]: r["bucket"] for r in m.collect()}
    es = edges[()]
    got = {fb: sum(1 for e in es if fb >= e) for fb in want}
    assert got == want
    # the dominant bin's successor must carry multiplicity > 1
    assert len(es) != len(set(es))


def test_bucket_edges_fall_back_past_group_cap(spark, sf_oracle):
    """More groups than _QTL_EXPR_MAX_GROUPS returns None — the
    caller keeps the broadcast-join plan instead of compiling a
    thousand-branch CASE."""
    li = load_table(spark, sf_oracle, "lineitem").withColumn(
        "g", F.col("l_orderkey") % 1000
    )
    m = stats.quantile_bucket_map(
        li, "l_extendedprice", stats.QTL_FINE_WIDTH, group_cols=("g",)
    )
    assert stats._bucket_edges(m, ["g"]) is None
