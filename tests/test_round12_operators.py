"""Round-12 operator pins: K-stage booster plan shape + independent
fuzz, isotonic (PAV) calibration properties + stack-reference fuzz,
out-of-fold target encoding complement semantics, and n-gram novelty
attribution invariants (the oracle parity suite covers values; these
pin the PLANS and the semantics the oracles encode)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.functions import dedup
from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.plans import explain_str, run_with_plans


def _scan_count(plan: str, table: str) -> int:
    return plan.count(f"{table}.parquet")


# ---------------------------------------------------------------------------
# K-stage gradient boosting
# ---------------------------------------------------------------------------


def test_gbt3_is_one_scan_per_stage(
    spark, sf_oracle, cold_session_cache
):
    """Three boosting stages read the data ONCE: the data collapses to
    its joint bin histogram (stats._joint_bin_hist), which is
    collected, and every stage runs on the driver over those cells
    (the two-stage plan contract, one level deeper). The LIVE plan is
    the literal stage rows with ZERO data scans; the one scan ran
    during construction."""
    df, built = run_with_plans(spark, stats.lineitem_gbt_stages3, sf_oracle)
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "lineitem") == 0, plan
    assert "Generate" in plan and "Range" in plan, plan  # literal rows
    assert "CollectLimit" not in plan
    assert sum(_scan_count(p, "lineitem") for p in built) == 1, built


def test_gbt_boost_matches_independent_reference_fuzz(spark):
    """Seeded random frames vs an independent numpy replay of the
    K-stage squared-loss boosting recursion — the 2-stage fuzz's
    pattern extended to depth 3, with the uniform right-sum
    formulation (sum_r_right = sum_r_total − sum_r_left) gbt_boost
    uses at every stage."""
    import math

    import numpy as np

    rng = np.random.default_rng(20260816)
    for trial in range(3):
        n = int(rng.integers(300, 900))
        pdf = pd.DataFrame(
            {
                "l_quantity": rng.integers(1, 51, n).astype(float),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_extendedprice": rng.uniform(900, 105000, n).round(2),
                "l_returnflag": rng.choice(["R", "N", "A"], n),
            }
        )
        bins = {}
        for name, col, op, k in stats.STUMP_BINS:
            x = pdf[col].astype(float)
            scaled = x * k if op == "*" else x / k
            bins[name] = np.minimum(
                stats.N_STUMP_BINS - 1, np.floor(scaled).astype(int)
            )
        y = (pdf["l_returnflag"] == "R").astype(int).to_numpy()

        def best_split(resid):
            cands = []
            total = float(resid.sum())
            for name in bins:
                b = bins[name]
                for t in np.sort(np.unique(b))[:-1]:
                    left = b <= t
                    nl, nr = int(left.sum()), int((~left).sum())
                    sl = float(resid[left].sum())
                    sr = total - sl
                    score = round(sl * sl / nl + sr * sr / nr, 9)
                    cands.append(
                        (score, name, int(t), nl, nr, sl / nl, sr / nr)
                    )
            cands.sort(key=lambda c: (-c[0], c[1], c[2]))
            return cands[0]

        resid = y - y.sum() / n
        refs = []
        for _stage in range(3):
            s = best_split(resid)
            refs.append(s)
            gamma = np.where(bins[s[1]] <= s[2], s[5], s[6])
            resid = resid - stats.GBT_SHRINKAGE * gamma

        got = {
            r["stage"]: r
            for r in stats.gbt_boost(spark.createDataFrame(pdf), 3).collect()
        }
        assert set(got) == {1, 2, 3}
        for stage, ref in enumerate(refs, start=1):
            g = got[stage]
            assert (
                g["feature"],
                g["split_bin"],
                g["n_left"],
                g["n_right"],
            ) == (ref[1], ref[2], ref[3], ref[4]), (trial, stage)
            assert g["score"] == pytest.approx(ref[0], abs=2e-9)
            assert g["gamma_left"] == pytest.approx(ref[5], abs=2e-9)
            assert g["gamma_right"] == pytest.approx(ref[6], abs=2e-9)
            assert not math.isnan(g["score"])


def test_gbt_boost_stage_scores_are_nonincreasing_in_sse(spark, sf_oracle):
    """Each stage fits a shrunken correction, so the residual SSE the
    next stage sees is weakly smaller — observable as stage k+1's best
    achievable score (explained variation of the residual) not
    exceeding stage k's residual total. Cheap sanity on real data:
    scores are positive, and the trajectory exists for all 3 stages."""
    rows = {
        r["stage"]: r for r in stats.lineitem_gbt_stages3(spark, sf_oracle).collect()
    }
    assert set(rows) == {1, 2, 3}
    for r in rows.values():
        assert r["score"] > 0
        assert r["n_left"] > 0 and r["n_right"] > 0


# ---------------------------------------------------------------------------
# Isotonic (PAV) calibration
# ---------------------------------------------------------------------------


def _pav_reference(n, pos):
    """Classic sequential pool-adjacent-violators on per-bin (weight,
    positives): returns the fitted rate per input bin. Independent of
    the minimax form the engine/oracle use — in exact arithmetic the
    two are the same function (Robertson/Wright/Dykstra)."""
    blocks = []  # [weight, pos_sum, n_bins]
    for w, p in zip(n, pos):
        blocks.append([float(w), float(p), 1])
        while (
            len(blocks) > 1
            and blocks[-2][1] / blocks[-2][0] >= blocks[-1][1] / blocks[-1][0]
        ):
            w2, p2, c2 = blocks.pop()
            blocks[-1][0] += w2
            blocks[-1][1] += p2
            blocks[-1][2] += c2
    out = []
    for w, p, c in blocks:
        out.extend([p / w] * c)
    return out


def test_isotonic_matches_pav_stack_reference(spark):
    """Seeded random (p, y) frames vs the sequential PAV stack — the
    minimax closed form must agree with the classic algorithm on
    every occupied bin."""
    import numpy as np

    rng = np.random.default_rng(20260812)
    for trial in range(3):
        n = int(rng.integers(500, 1500))
        p = rng.random(n).round(3)
        # labels correlated with p but noisy, so violations exist
        y = (rng.random(n) < 0.3 + 0.4 * p).astype(int)
        scored = spark.createDataFrame(
            pd.DataFrame({"p": p, "y": y})
        )
        got = (
            stats.isotonic_calibration(scored, n_bins=64)
            .orderBy("bin")
            .collect()
        )
        ref = _pav_reference(
            [r["n_rows"] for r in got], [r["pos"] for r in got]
        )
        for row, want in zip(got, ref):
            assert row["iso"] == pytest.approx(want, abs=1e-8), (
                trial,
                row["bin"],
            )


def test_isotonic_is_monotone_and_mass_preserving(spark, sf_oracle):
    """The fit is nondecreasing over bins, lives in [0, 1], and
    preserves total positive mass (Σ iso·n = Σ pos — PAV's defining
    block-average property), on the real registry entry."""
    rows = (
        stats.lineitem_isotonic_calibration(spark, sf_oracle)
        .orderBy("bin")
        .collect()
    )
    assert rows
    isos = [r["iso"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(isos, isos[1:]))
    assert all(0.0 <= v <= 1.0 for v in isos)
    mass = sum(r["iso"] * r["n_rows"] for r in rows)
    total_pos = sum(r["pos"] for r in rows)
    assert mass == pytest.approx(total_pos, rel=1e-6)


def test_isotonic_is_single_data_scan(spark, sf_oracle):
    """The scan→histogram stage is checkpointed ONCE at construction
    (the shared-stage idiom); the returned epilogue plan reads the
    materialized ≤ n_bins-row index — zero parquet scans downstream,
    so the two self-join consumers can never replay the data pass."""
    df = stats.lineitem_isotonic_calibration(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "lineitem") == 0, plan
    assert "ExistingRDD" in plan


# ---------------------------------------------------------------------------
# Out-of-fold target encoding
# ---------------------------------------------------------------------------


def test_target_encoding_uses_fold_complements_only(spark):
    """Hand-checkable frame: the encoding a (category, fold) cell
    receives must be computable from the OTHER folds' counts alone —
    verified by recomputing the complement formula from the returned
    cell grid itself."""
    pdf = pd.DataFrame(
        {
            "cat": ["a"] * 40 + ["b"] * 60,
            "key": [str(i) for i in range(100)],
            "label": [i % 3 == 0 for i in range(100)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = stats.target_encoding(
        df, "cat", F.col("key"), F.col("label"), n_folds=4, m=10.0
    ).collect()
    # reconstruct totals from the grid
    nt = sum(r["n"] for r in out)
    post = sum(r["pos"] for r in out)
    assert nt == 100
    by_cat = {}
    by_fold = {}
    for r in out:
        by_cat.setdefault(r["category"], [0, 0])
        by_cat[r["category"]][0] += r["n"]
        by_cat[r["category"]][1] += r["pos"]
        by_fold.setdefault(r["fold"], [0, 0])
        by_fold[r["fold"]][0] += r["n"]
        by_fold[r["fold"]][1] += r["pos"]
    for r in out:
        n_c, pos_c = by_cat[r["category"]]
        n_f, pos_f = by_fold[r["fold"]]
        prior = (post - pos_f) / (nt - n_f)
        want = ((pos_c - r["pos"]) + 10.0 * prior) / (
            (n_c - r["n"]) + 10.0
        )
        assert r["prior"] == pytest.approx(prior, abs=1e-9)
        assert r["encoding"] == pytest.approx(want, abs=1e-9)


def test_target_encoding_matches_pandas_reference_fuzz(spark):
    """Seeded random frames vs an INDEPENDENT pandas replay computed
    from the raw rows (md5 fold hash included) — stronger than the
    grid-self-consistency check above, which recomputes complements
    from the engine's own output."""
    import hashlib

    import numpy as np

    rng = np.random.default_rng(20260821)
    for trial in range(3):
        n = int(rng.integers(300, 1200))
        n_folds, m = 4, 12.0
        pdf = pd.DataFrame(
            {
                "cat": rng.choice([f"c{i}" for i in range(15)], n),
                "key": [f"k{i}" for i in range(n)],
                "y": rng.random(n) < 0.3,
            }
        )
        got = {
            (r["category"], r["fold"]): (
                r["n"],
                r["pos"],
                r["prior"],
                r["encoding"],
            )
            for r in stats.target_encoding(
                spark.createDataFrame(pdf),
                "cat",
                F.col("key"),
                F.col("y"),
                n_folds=n_folds,
                m=m,
            ).collect()
        }
        pdf["fold"] = [
            int(hashlib.md5(k.encode()).hexdigest()[:8], 16) % n_folds
            for k in pdf["key"]
        ]
        cells = pdf.groupby(["cat", "fold"]).agg(
            n=("y", "size"), pos=("y", "sum")
        )
        nt, post = len(pdf), int(pdf["y"].sum())
        by_cat = pdf.groupby("cat").agg(n_c=("y", "size"), pos_c=("y", "sum"))
        by_fold = pdf.groupby("fold").agg(
            n_f=("y", "size"), pos_f=("y", "sum")
        )
        want = {}
        for (cat, fold), row in cells.iterrows():
            n_f, pos_f = by_fold.loc[fold]
            n_c, pos_c = by_cat.loc[cat]
            prior = (post - pos_f) / (nt - n_f)
            enc = ((pos_c - row["pos"]) + m * prior) / (
                (n_c - row["n"]) + m
            )
            want[(cat, fold)] = (
                int(row["n"]),
                int(row["pos"]),
                round(prior, 9),
                round(enc, 9),
            )
        assert got == want, trial


def test_target_encoding_single_category_fold_degrades_to_prior(spark):
    """A category entirely inside one fold has an empty complement —
    its encoding must equal the smoothed prior exactly (m·prior / m),
    not leak its own rows."""
    pdf = pd.DataFrame(
        {
            "cat": ["solo"] * 10 + ["filler"] * 90,
            "key": ["s%d" % i for i in range(10)]
            + ["f%d" % i for i in range(90)],
            "label": [True] * 10 + [i % 2 == 0 for i in range(90)],
        }
    )
    # force every 'solo' row into one fold by using a single key value
    df = spark.createDataFrame(pdf)
    out = stats.target_encoding(
        df,
        "cat",
        F.when(F.col("cat") == "solo", F.lit("same")).otherwise(
            F.col("key")
        ),
        F.col("label"),
        n_folds=4,
        m=5.0,
    ).collect()
    solo = [r for r in out if r["category"] == "solo"]
    assert len(solo) == 1
    assert solo[0]["encoding"] == pytest.approx(solo[0]["prior"], abs=1e-9)


def test_target_encoding_is_single_scan(spark, sf_oracle):
    """The scan→cell-grid stage is checkpointed ONCE at construction;
    the returned plan derives all three complement branches (category
    window, fold totals, global totals) from the materialized grid —
    zero parquet scans downstream, so the single-data-pass cost model
    is structural, not an exchange-reuse accident."""
    df = stats.lineitem_target_encoding(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "lineitem") == 0, plan
    assert "ExistingRDD" in plan
    assert "CollectLimit" not in plan


def test_novelty_shingle_stage_is_checkpointed_once(spark, sf_oracle):
    """The shingle table feeds the ownership aggregate AND the
    join-back; the returned plan must read the checkpointed stage
    (zero document scans downstream), never re-shingle."""
    df = dedup.docs_ngram_novelty(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "documents") == 0, plan
    assert "ExistingRDD" in plan


# ---------------------------------------------------------------------------
# First-occurrence n-gram novelty
# ---------------------------------------------------------------------------


def test_novelty_attribution_invariants(spark):
    """Hand-built corpus: the earliest doc owns everything it contains
    (novelty 1.0); an exact later duplicate owns nothing (0.0); a doc
    mixing one earlier sentence with fresh text lands strictly
    between; a doc too short to shingle is absent."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox went somewhere entirely new today"),
            (4, "hi there"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in dedup.ngram_novelty(docs).collect()}
    assert out[1]["novelty"] == pytest.approx(1.0)
    assert out[2]["novelty"] == pytest.approx(0.0)
    assert out[2]["n_shingles"] == out[1]["n_shingles"]
    assert 0.0 < out[3]["novelty"] < 1.0
    # 'the quick brown' and 'quick brown fox' are owned by doc 1
    assert out[3]["n_novel"] == out[3]["n_shingles"] - 2
    assert 4 not in out  # < 3 words -> no shingles -> no row


def test_novelty_totals_partition_ownership(spark, sf_oracle):
    """Σ n_novel over docs = number of DISTINCT shingles in the corpus
    (each distinct shingle owned exactly once), and every novelty is
    in [0, 1]."""
    out = dedup.docs_ngram_novelty(spark, sf_oracle).collect()
    assert out
    distinct_shingles = (
        dedup.shingle_table(
            spark.read.parquet(f"{sf_oracle}/documents.parquet")
        )
        .select("shingle")
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in out) == distinct_shingles
    assert all(0.0 <= r["novelty"] <= 1.0 for r in out)
