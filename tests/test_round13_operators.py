"""Round-13 operator pins: equi-depth quantile binning plan shape +
exact-rank property + independent fuzz, encoding-reliability routing
invariants, and DLQ-split idempotence/partition semantics (the oracle
parity suite covers values; these pin the PLANS and the semantics the
oracles encode)."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark import session
from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.plans import explain_str, run_with_plans
from inf2106_map_reduce_spark.streaming import stateful as stream_stateful
from inf2106_map_reduce_spark.streaming import windows as stream_windows
from inf2106_map_reduce_spark.tables import load_table


def _scan_count(plan: str, table: str) -> int:
    return plan.count(f"{table}.parquet")


# ---------------------------------------------------------------------------
# Equi-depth quantile binning
# ---------------------------------------------------------------------------


def test_quantile_bins_is_one_scan_no_global_sort(spark, sf_oracle):
    """Pass 2 is rank arithmetic over the fine histogram: exactly one
    data scan, and no data-sized global sort (the Sort the plan is
    allowed is the ≤ n_fine-row histogram window — guarded by the
    Exchange shape: the only shuffles are the histogram hash agg and
    the single-partition histogram window)."""
    df = stats.lineitem_price_quantile_bins(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "lineitem") == 1, plan
    assert "CollectLimit" not in plan
    # the scan reads the binned column ONLY (projection pruned)
    assert "l_extendedprice" in plan and "l_orderkey" not in plan


def test_quantile_bins_are_exactly_equi_depth(spark, sf_oracle):
    """The defining exact-rank property: bucket q holds exactly the
    rows whose strict-rank prefix satisfies floor(prefix·B/N) = q,
    i.e. consecutive rank segments; with whole fine bins allotted,
    each bucket's row count deviates from N/B by at most the largest
    fine-bin count straddling its boundary. Verified against a pure
    pandas replay of the same histogram arithmetic (independent of
    Spark's window/aggregate machinery)."""
    li = load_table(spark, sf_oracle, "lineitem")
    got = {
        r["bucket"]: (r["n_rows"], r["lo_bin"], r["hi_bin"])
        for r in stats.quantile_bins(li, "l_extendedprice").collect()
    }
    import numpy as np

    prices = pd.Series(
        [r[0] for r in li.select("l_extendedprice").collect()], dtype=float
    )
    fb = np.clip(
        np.floor(prices.to_numpy() / stats.QTL_FINE_WIDTH).astype(int),
        0,
        stats.N_QTL_FINE - 1,
    )
    hist = pd.Series(fb).value_counts().sort_index()
    cum_prev = hist.cumsum() - hist
    bucket = np.minimum(
        stats.N_QTL_BUCKETS - 1,
        (cum_prev * stats.N_QTL_BUCKETS) // len(fb),
    )
    want = {}
    for b in sorted(set(bucket)):
        bins = hist.index[bucket == b]
        want[int(b)] = (
            int(hist[bins].sum()),
            int(bins.min()),
            int(bins.max()),
        )
    assert got == want
    # equal-population within one straddling fine bin
    n, B = len(fb), stats.N_QTL_BUCKETS
    max_bin = int(hist.max())
    for b, (rows, _, _) in got.items():
        assert abs(rows - n / B) <= max_bin, (b, rows, n / B, max_bin)


def test_quantile_bins_partition_data_completely(spark, sf_oracle):
    """Buckets tile the data: counts sum to N, fine-bin ranges are
    disjoint and ordered."""
    rows = sorted(
        stats.lineitem_price_quantile_bins(spark, sf_oracle).collect(),
        key=lambda r: r["bucket"],
    )
    li_n = load_table(spark, sf_oracle, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == li_n
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-6
    for a, b in zip(rows, rows[1:]):
        assert a["hi_bin"] < b["lo_bin"]


def test_quantile_bins_fuzz_vs_sorted_rank_reference(spark):
    """Seeded random frames vs the DEFINITION (not the closed form):
    sort the values, walk ranks, cut at ceil(q·N/B) boundaries
    extended to whole fine bins — the independent reference the
    closed-form DIV arithmetic must reproduce."""
    import numpy as np

    rng = np.random.default_rng(20260817)
    for trial in range(3):
        n = int(rng.integers(200, 2000))
        # lognormal => heavily skewed, many collisions in low bins
        vals = np.round(np.exp(rng.normal(3, 1.2, n)) * 4.0, 2)
        pdf = pd.DataFrame({"x": vals})
        width, n_fine, nb = 8.0, 512, 7
        df = spark.createDataFrame(pdf)
        got = {
            r["bucket"]: r["n_rows"]
            for r in stats.quantile_bins(
                df, "x", width=width, n_fine=n_fine, n_buckets=nb
            ).collect()
        }
        fb = np.clip(np.floor(vals / width).astype(int), 0, n_fine - 1)
        order = np.sort(fb)
        # reference: boundary_q = least fine bin whose cumulative
        # count reaches ceil(q*n/nb); bucket of bin f = #{q: b_q < f}
        bins, counts = np.unique(order, return_counts=True)
        cum = np.cumsum(counts)
        boundaries = []
        for qq in range(1, nb):
            r = -(-qq * n // nb)  # ceil
            boundaries.append(bins[np.searchsorted(cum, r)])
        want: dict[int, int] = {}
        for f, c in zip(bins, counts):
            b = int(sum(1 for e in boundaries if e < f))
            want[b] = want.get(b, 0) + int(c)
        assert got == want, (trial, got, want)


def test_grouped_quantile_bins_match_per_group_runs(spark, sf_oracle):
    """The grouped form is definitionally the global form run per
    group: for each l_returnflag, filtering the table first and
    binning globally must give the identical buckets (plus the
    one-scan plan keeps holding — the group key rides the same
    histogram aggregate)."""
    li = load_table(spark, sf_oracle, "lineitem")
    got = {
        (r["l_returnflag"], r["bucket"]): (
            r["n_rows"],
            r["lo_bin"],
            r["hi_bin"],
            r["frac"],
        )
        for r in stats.lineitem_flag_quantile_bins(
            spark, sf_oracle
        ).collect()
    }
    want = {}
    for flag in ("A", "N", "R"):
        sub = li.filter(F.col("l_returnflag") == flag)
        for r in stats.quantile_bins(sub, "l_extendedprice").collect():
            want[(flag, r["bucket"])] = (
                r["n_rows"],
                r["lo_bin"],
                r["hi_bin"],
                r["frac"],
            )
    assert got == want
    plan = explain_str(
        stats.lineitem_flag_quantile_bins(spark, sf_oracle), "formatted"
    )
    assert _scan_count(plan, "lineitem") == 1, plan


def test_quantile_bins_rejects_degenerate_parameters(spark, sf_oracle):
    """Non-positive width / B < 2 produce silent nonsense (edge-bin
    pileup, vacuous buckets) rather than a Spark error — the operator
    fails with intent instead (the empty-span-guard pattern)."""
    li = load_table(spark, sf_oracle, "lineitem")
    for kwargs in ({"width": 0.0}, {"width": -1.0}, {"n_buckets": 1}):
        with pytest.raises(ValueError, match="quantile_bins needs"):
            stats.quantile_bins(li, "l_extendedprice", **kwargs)


def test_stage_spans_requires_ts_column(spark, sf_oracle, tmp_path):
    """A staged projection without ts cannot drive the span
    arithmetic — fail with intent, not an unresolved-column error."""
    ev = load_table(spark, sf_oracle, "events")
    with pytest.raises(ValueError, match="must include 'ts'"):
        stream_stateful.stage_session_spans(
            ev, str(tmp_path), cols=("user_id",)
        )


def test_grouped_quantile_bins_fuzz_vs_per_group_reference(spark):
    """Seeded random (group, value) frames with per-group skew: the
    grouped closed form must reproduce, for EVERY group, the
    sorted-rank definition replayed independently on that group's
    values (extends the global fuzz to the grouped form)."""
    import numpy as np

    rng = np.random.default_rng(20260818)
    for trial in range(3):
        n = int(rng.integers(400, 2500))
        groups = rng.choice(["g0", "g1", "g2", "g3"], n)
        # per-group scale differences => edges must diverge per group
        scale = {"g0": 1.0, "g1": 4.0, "g2": 0.5, "g3": 9.0}
        vals = np.round(
            np.exp(rng.normal(3, 1.0, n))
            * np.vectorize(scale.get)(groups),
            2,
        )
        pdf = pd.DataFrame({"g": groups, "x": vals})
        width, n_fine, nb = 8.0, 512, 5
        got = {
            (r["g"], r["bucket"]): r["n_rows"]
            for r in stats.quantile_bins(
                spark.createDataFrame(pdf),
                "x",
                width=width,
                n_fine=n_fine,
                n_buckets=nb,
                group_cols=("g",),
            ).collect()
        }
        want: dict[tuple, int] = {}
        for g in sorted(set(groups)):
            sub = vals[groups == g]
            fb = np.clip(np.floor(sub / width).astype(int), 0, n_fine - 1)
            bins, counts = np.unique(fb, return_counts=True)
            cum = np.cumsum(counts)
            boundaries = [
                bins[np.searchsorted(cum, -(-qq * len(sub) // nb))]
                for qq in range(1, nb)
            ]
            for f, c in zip(bins, counts):
                b = int(sum(1 for e in boundaries if e < f))
                want[(g, b)] = want.get((g, b), 0) + int(c)
        assert got == want, trial


def test_grouped_isotonic_fuzz_vs_pav_stack_per_group(spark):
    """Seeded random (seg, p, y) frames: the grouped minimax closed
    form must agree, segment by segment, with the classic sequential
    PAV stack run independently on that segment's histogram (extends
    the round-12 stack fuzz to the grouped form)."""
    import numpy as np

    from tests.test_round12_operators import _pav_reference

    rng = np.random.default_rng(20260819)
    for trial in range(3):
        n = int(rng.integers(600, 2000))
        seg = rng.choice(["a", "b", "c"], n)
        p = rng.random(n).round(3)
        # per-segment base rates so the monotone maps differ
        base = {"a": 0.15, "b": 0.35, "c": 0.55}
        y = (
            rng.random(n) < np.vectorize(base.get)(seg) + 0.35 * p
        ).astype(int)
        scored = spark.createDataFrame(
            pd.DataFrame({"seg": seg, "p": p, "y": y})
        )
        rows = (
            stats.isotonic_calibration(
                scored, n_bins=64, group_cols=("seg",)
            )
            .orderBy("seg", "bin")
            .collect()
        )
        for g in ("a", "b", "c"):
            sub = [r for r in rows if r["seg"] == g]
            ref = _pav_reference(
                [r["n_rows"] for r in sub], [r["pos"] for r in sub]
            )
            for row, want in zip(sub, ref):
                assert row["iso"] == pytest.approx(want, abs=1e-8), (
                    trial,
                    g,
                    row["bin"],
                )


# ---------------------------------------------------------------------------
# Encoding reliability audit
# ---------------------------------------------------------------------------


def test_encoding_reliability_routes_every_row(spark, sf_oracle):
    """The inner join against the grid loses nothing: every row's
    (category, fold) cell exists by construction (shared _enc_fold),
    so decile counts sum to the table size."""
    rows = stats.lineitem_encoding_reliability(spark, sf_oracle).collect()
    li_n = load_table(spark, sf_oracle, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == li_n
    for r in rows:
        assert 0 <= r["bin"] < stats.ENC_RELIABILITY_BINS
        # each row's bucket really contains its mean: bin/N <= mean < (bin+1)/N
        lo = r["bin"] / stats.ENC_RELIABILITY_BINS
        hi = (r["bin"] + 1) / stats.ENC_RELIABILITY_BINS
        assert lo - 1e-9 <= r["mean_encoding"] <= hi + 1e-9, r


def test_encoding_reliability_plan_shape(
    spark, sf_oracle, cold_session_cache
):
    """Registry plan: the apply side is the ONE live lineitem scan,
    the grid arrives as the fit's checkpointed frame (ExistingRDD) —
    the two-scan cost model with the fit paid once at construction:
    the grid's three complement consumers (category window, fold
    totals, global totals) read the checkpoint, so the fit's one scan
    is the only construction-time scan."""
    df, built = run_with_plans(
        spark, stats.lineitem_encoding_reliability, sf_oracle
    )
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "lineitem") == 1, plan
    assert "ExistingRDD" in plan
    assert "CollectLimit" not in plan
    assert sum(_scan_count(p, "lineitem") for p in built) == 1, built


def test_encoding_entries_share_one_session_grid(spark, sf_oracle):
    """The registry encoding entry and the reliability audit share the
    session-cached grid fit (the trainer-trajectory idiom): the
    encoding entry RETURNS the cached frame, and the audit consumes
    the same object — one cell-grid pass per (session, sf_dir)."""
    g1 = stats.lineitem_target_encoding(spark, sf_oracle)
    g2 = stats._registry_encoding_grid(spark, sf_oracle)
    assert g1 is g2


def test_encoding_reliability_smoothing_pulls_toward_prior(spark):
    """Synthetic frame where one category is all-positive but thin:
    with m pseudo-counts its out-of-fold encoding must sit strictly
    between the raw rate (1.0) and the prior — the shrinkage contract
    the audit exists to surface."""
    pdf = pd.DataFrame(
        {
            "cat": ["thin"] * 4 + ["bulk"] * 400,
            "key": [str(i) for i in range(404)],
            "y": [1] * 4 + [1 if i % 4 == 0 else 0 for i in range(400)],
        }
    )
    df = spark.createDataFrame(pdf)
    grid = stats.target_encoding(
        df, "cat", F.col("key"), F.col("y") == 1, n_folds=2, m=10.0
    ).collect()
    thin = [r for r in grid if r["category"] == "thin"]
    assert thin
    for r in thin:
        assert 0.2 < r["encoding"] < 1.0, r


# ---------------------------------------------------------------------------
# DLQ split sink
# ---------------------------------------------------------------------------


def test_dlq_rules_first_match_wins(spark):
    """A row matching BOTH rules (an 'error' event with value > 300)
    must take the FIRST rule's reason — the ordered-rules contract the
    oracle's CASE mirrors."""
    pdf = pd.DataFrame(
        {
            "event_type": ["error", "error", "click", "click"],
            "value": [999.0, 1.0, 999.0, 1.0],
        }
    )
    got = [
        r["r"]
        for r in spark.createDataFrame(pdf)
        .select(stream_windows.dlq_reason().alias("r"))
        .collect()
    ]
    assert got == ["error_event", "error_event", "value_out_of_range", None]


def test_dlq_split_routes_each_row_exactly_once(spark, sf_oracle):
    """Good + DLQ partition the input: counts and event-id checksums
    add back up to the whole events table, per event_type."""
    rows = stream_windows.streaming_dlq_split(spark, sf_oracle).collect()
    ev = load_table(spark, sf_oracle, "events")
    want = {
        r["event_type"]: (r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("bigint").alias("s"),
        )
        .collect()
    }
    got: dict[str, list[int]] = {}
    for r in rows:
        g = got.setdefault(r["event_type"], [0, 0])
        g[0] += r["n_rows"]
        g[1] += r["sum_event_id"]
    assert {k: tuple(v) for k, v in got.items()} == want


def test_dlq_epoch_overwrite_is_idempotent(spark, sf_oracle, tmp_path):
    """A retried micro-batch rewrites its epoch partition instead of
    doubling it: routing the same batch twice through the writer body
    leaves exactly one copy in each sink (the at-least-once contract
    foreachBatch requires of its writer)."""
    src = stream_stateful.staged_event_spans(
        spark,
        sf_oracle,
        stream_windows.DLQ_SPAN_FILES,
        cols=("event_id", "ts", "user_id", "event_type", "value"),
        tag="dlq",
    )
    first = sorted(glob.glob(os.path.join(src, "*.parquet")))[0]
    batch = spark.read.parquet(first)
    good_root = str(tmp_path / "good")
    dlq_root = str(tmp_path / "dlq")

    def route(bdf, epoch):
        # the REAL router body (not a re-implementation) — drift
        # between sink and test is impossible
        stream_windows.route_batch(
            bdf, epoch, good_root, dlq_root, stream_windows.dlq_reason()
        )

    route(batch, 0)
    once = (
        spark.read.parquet(good_root).count(),
        spark.read.parquet(dlq_root).count(),
    )
    route(batch, 0)  # the retry
    twice = (
        spark.read.parquet(good_root).count(),
        spark.read.parquet(dlq_root).count(),
    )
    assert once == twice
    assert sum(once) == batch.count()


def test_dlq_redrive_conserves_the_quarantine(spark, sf_oracle):
    """Lifecycle conservation: the redrive pass re-routes EXACTLY the
    quarantine — redriven_good + still_dlq counts/checksums per
    event_type equal the split entry's dlq rows; and both entries
    share one session-cached split run (the stage-cache idiom)."""
    split = stream_windows.streaming_dlq_split(spark, sf_oracle).collect()
    redrive = stream_windows.streaming_dlq_redrive(
        spark, sf_oracle
    ).collect()
    dlq = {}
    for r in split:
        if r["disposition"] == "dlq":
            g = dlq.setdefault(r["event_type"], [0, 0])
            g[0] += r["n_rows"]
            g[1] += r["sum_event_id"]
    re = {}
    for r in redrive:
        g = re.setdefault(r["event_type"], [0, 0])
        g[0] += r["n_rows"]
        g[1] += r["sum_event_id"]
    assert re == dlq
    key = ("dlq_roots", sf_oracle)
    assert key in session._cache_entries


def test_redrive_rules_are_a_subset_correction(spark):
    """The corrected table only ever CLEARS rows (every redrive rule
    exists in the original table with the same predicate), so a
    redriven row can never acquire a reason the first pass didn't
    know — the monotone-correction contract the lifecycle assumes."""
    original = dict(stream_windows.DLQ_RULES)
    for name, pred in stream_windows.REDRIVE_RULES:
        assert original.get(name) == pred


def test_status_isotonic_matches_per_segment_runs(spark, sf_oracle):
    """The grouped fit is definitionally the global fit run per
    segment: filtering the scored frame per l_linestatus and fitting
    globally must give identical monotone maps."""
    scored = stats._registry_scored_with_status(spark, sf_oracle)
    assert scored is not None
    got = {
        (r["seg"], r["bin"]): (r["n_rows"], r["pos"], r["rate"], r["iso"])
        for r in stats.lineitem_status_isotonic(spark, sf_oracle).collect()
    }
    want = {}
    for seg in ("F", "O"):
        sub = scored.filter(F.col("seg") == seg).select("p", "y")
        for r in stats.isotonic_calibration(sub).collect():
            want[(seg, r["bin"])] = (
                r["n_rows"],
                r["pos"],
                r["rate"],
                r["iso"],
            )
    assert got == want


def test_fold_reliability_marginalizes_to_the_audit(spark, sf_oracle):
    """Summing the per-fold audit over folds reproduces the unsplit
    audit's per-bin row counts exactly (same rows, one more key)."""
    per_fold = stats.lineitem_fold_reliability(spark, sf_oracle).collect()
    flat = stats.lineitem_encoding_reliability(spark, sf_oracle).collect()
    marg: dict[int, int] = {}
    for r in per_fold:
        marg[r["bin"]] = marg.get(r["bin"], 0) + r["n_rows"]
        assert 0 <= r["fold"] < stats.N_ENC_FOLDS
    assert marg == {r["bin"]: r["n_rows"] for r in flat}


def test_staging_cols_param_preserves_default_contract(spark, sf_oracle, tmp_path):
    """The generalized stager still stages the 2-column projection by
    default, and the DLQ staging carries the full row — both under the
    same span/mtime invariant (file names and strictly increasing
    pinned mtimes)."""
    base = str(tmp_path)
    ev = load_table(spark, sf_oracle, "events").limit(500)
    stream_stateful.stage_session_spans(ev, base, n_files=2)
    files = sorted(glob.glob(os.path.join(base, "*.parquet")))
    assert len(files) == 2
    assert os.path.getmtime(files[0]) < os.path.getmtime(files[1])
    cols = spark.read.parquet(files[0]).columns
    assert cols == ["user_id", "ts"]
    dlq_src = stream_stateful.staged_event_spans(
        spark,
        sf_oracle,
        stream_windows.DLQ_SPAN_FILES,
        cols=("event_id", "ts", "user_id", "event_type", "value"),
        tag="dlq",
    )
    dlq_files = sorted(glob.glob(os.path.join(dlq_src, "*.parquet")))
    assert len(dlq_files) == stream_windows.DLQ_SPAN_FILES
    assert spark.read.parquet(dlq_files[0]).columns == [
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
    ]
