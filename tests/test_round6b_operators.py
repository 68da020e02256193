"""Planted-data semantics tests for the round-6b operators (oracle
parity pins engine==DuckDB; these pin that BOTH mean what the
docstrings claim)."""

from __future__ import annotations

import math

from inf2106_map_reduce_spark.functions.dedup import bfs_hops_from_roots
from inf2106_map_reduce_spark.operators.linkage import golden_record
from inf2106_map_reduce_spark.operators.stats import (
    corr_matrix,
    grouped_ols,
    welch_ttest,
)


def test_golden_record_transitive_merge_and_survivorship(spark):
    # A~B and B~C by one edit each, A vs C differ by TWO edits — the
    # pairwise matcher never links A-C, connected components must.
    # Survivor = highest balance (id 3); total = sum of all three.
    df = spark.createDataFrame(
        [
            (1, "aaaa", "N1", 10.0),
            (2, "aaab", "N1", 30.0),   # 1 edit from both 1 and 3
            (3, "aabb", "N1", 20.0),
            (4, "zzzz", "N1", 99.0),   # singleton: absent from output
            (5, "aaaa", "N2", 50.0),   # other block: no cross-block edge
        ],
        "id long, name string, blk string, bal double",
    )
    rows = golden_record(
        df, "id", "name", ["blk"], "bal", max_distance=1
    ).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["entity_id"] == 1
    assert r["n_members"] == 3
    assert r["member_id_sum"] == 6
    assert r["survivor_id"] == 2  # highest balance wins
    assert r["survivor_balance"] == 30.0
    assert r["total_balance"] == 60.0


def test_golden_record_survivor_tie_breaks_to_lowest_id(spark):
    df = spark.createDataFrame(
        [(7, "xxxx", "N1", 5.0), (9, "xxxy", "N1", 5.0)],
        "id long, name string, blk string, bal double",
    )
    r = golden_record(df, "id", "name", ["blk"], "bal").collect()[0]
    assert r["survivor_id"] == 7


def test_grouped_ols_exact_line(spark):
    # y = 3x + 2 exactly -> slope 3, intercept 2, r2 = 1
    df = spark.createDataFrame(
        [("g", float(x), 3.0 * x + 2.0) for x in range(1, 6)],
        "g string, x double, y double",
    )
    r = grouped_ols(df, "x", "y", ["g"]).collect()[0]
    assert r["n_rows"] == 5
    assert r["slope"] == 3.0
    assert r["intercept"] == 2.0
    assert r["r2"] == 1.0


def test_grouped_ols_zero_variance_is_null(spark):
    df = spark.createDataFrame(
        [("g", 4.0, 1.0), ("g", 4.0, 9.0)], "g string, x double, y double"
    )
    r = grouped_ols(df, "x", "y", ["g"]).collect()[0]
    assert r["slope"] is None and r["intercept"] is None and r["r2"] is None


def test_corr_matrix_known_values(spark):
    # b = 2a (r=1); c = -a (r=-1); b vs c = -1
    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0)],
        "a double, b double, c double",
    )
    out = {
        (r["col_x"], r["col_y"]): r["pearson_r"]
        for r in corr_matrix(df, ["a", "b", "c"]).collect()
    }
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0
    assert out[("b", "c")] == -1.0


def test_corr_matrix_constant_column_is_null(spark):
    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "a double, k double"
    )
    r = corr_matrix(df, ["a", "k"]).collect()[0]
    assert r["pearson_r"] is None


def test_welch_ttest_matches_closed_form(spark):
    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.0, 4.0, 6.0]
    df = spark.createDataFrame(
        [("A", v) for v in a] + [("B", v) for v in b],
        "g string, v double",
    )
    r = welch_ttest(df, "v", "g", "A", "B").collect()[0]
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((x - ma) ** 2 for x in a) / (na - 1)
    vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
    ea, eb = va / na, vb / nb
    t = (ma - mb) / math.sqrt(ea + eb)
    dof = (ea + eb) ** 2 / (ea**2 / (na - 1) + eb**2 / (nb - 1))
    assert r["n_a"] == na and r["n_b"] == nb
    assert abs(r["mean_a"] - ma) < 1e-6 and abs(r["mean_b"] - mb) < 1e-6
    assert abs(r["var_a"] - va) < 1e-4 and abs(r["var_b"] - vb) < 1e-4
    assert abs(r["t_stat"] - t) < 1e-6
    assert abs(r["welch_df"] - dof) < 1e-6


def test_bfs_hops_chain_and_early_stop(spark):
    # chain 1-2-3-4 plus disjoint pair 10-11; roots 1 and 10.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    roots = spark.createDataFrame([(1,), (10,)], "node long")
    out = {
        r["node"]: r["hops"]
        for r in bfs_hops_from_roots(edges, roots).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 10: 0, 11: 1}


def test_bfs_hop_cap_bounds_reach(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    roots = spark.createDataFrame([(1,)], "node long")
    out = {
        r["node"]: r["hops"]
        for r in bfs_hops_from_roots(edges, roots, max_hops=2).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2}  # node 4 is beyond the cap


def test_curriculum_order_matches_global_window(spark):
    # unequal source sizes: the arithmetic position must agree with
    # the naive global (rank, source, id) sort even when one source
    # exhausts early
    from inf2106_map_reduce_spark.functions.pipeline import curriculum_order

    rows = [
        # (doc_id, source, text) — word counts planted via repetition
        (1, "a", "x " * 3),
        (2, "a", "x " * 1),
        (3, "a", "x " * 2),
        (4, "b", "x " * 5),
        (5, "b", "x " * 4),
        (6, "c", "x " * 9),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = curriculum_order(df).collect()
    got = {r["doc_id"]: r["global_pos"] for r in out}
    ranked = sorted(
        out, key=lambda r: (r["rank_in_source"], r["source"], r["doc_id"])
    )
    expect = {r["doc_id"]: i + 1 for i, r in enumerate(ranked)}
    assert got == expect
    # interleave property: position 1..3 are the three sources' easiest
    first3 = {r["doc_id"] for r in out if r["global_pos"] <= 3}
    assert first3 == {2, 5, 6}


def test_bpe_train_applies_merges_and_composes(spark):
    from inf2106_map_reduce_spark.functions.text import bpe_train_merges

    # corpus: 'abab' x3, 'ab' x2 -> round 1 merges (a,b) [count 8];
    # round 2 must see the MERGED symbol: 'abab' is now [ab, ab], so
    # (ab, ab) [count 3] wins over any char pair — proving application
    df = spark.createDataFrame(
        [(1, "abab abab abab ab ab")], "doc_id long, text string"
    )
    rows = bpe_train_merges(df, rounds=2).collect()
    assert (rows[0]["token_a"], rows[0]["token_b"]) == ("a", "b")
    assert rows[0]["pair_count"] == 8
    # after merging all (a,b): abab -> 2 symbols x3, ab -> 1 symbol x2
    assert rows[0]["corpus_symbols_after"] == 8
    assert (rows[1]["token_a"], rows[1]["token_b"]) == ("ab", "ab")
    assert rows[1]["pair_count"] == 3
    assert rows[1]["corpus_symbols_after"] == 5


def test_bpe_train_consecutive_pairs_merge_non_overlapping(spark):
    from inf2106_map_reduce_spark.functions.text import bpe_train_merges

    # 'aaaa' = [a,a,a,a]: pair (a,a) occurs 3 times overlapping, but
    # the merge is left-to-right NON-overlapping -> [aa, aa]
    df = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    rows = bpe_train_merges(df, rounds=1).collect()
    assert (rows[0]["token_a"], rows[0]["token_b"]) == ("a", "a")
    assert rows[0]["corpus_symbols_after"] == 2


def test_bpe_train_stops_when_no_pair_is_left(spark):
    from inf2106_map_reduce_spark.functions.text import bpe_train_merges

    # one merge empties the pair table: the round-2 query returns only
    # round 1's symbol total, and training stops there
    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    rows = [tuple(r) for r in bpe_train_merges(df, rounds=3).collect()]
    assert rows == [(1, "a", "b", 2, 2)]


def test_bpe_train_runs_one_collect_per_round(spark, sf_smoke):
    """Each round's pair count carries the previous round's symbol
    total, so 6 rounds run the vocabulary checkpoint plus 7 collects
    (2 per round before they were folded: 13)."""
    from inf2106_map_reduce_spark.functions import text
    from inf2106_map_reduce_spark.plans import run_with_plans

    df, built = run_with_plans(spark, text.vocab_bpe_train, sf_smoke)
    assert df.count() == text.BPE_TRAIN_ROUNDS
    assert len(built) == 1 + text.BPE_TRAIN_ROUNDS + 1, built


def test_sequence_patterns_contiguous_vs_gapped(spark):
    import datetime

    from inf2106_map_reduce_spark.operators.timeseries import (
        sequence_patterns,
    )

    def ev(uid, i, t):
        return (uid, i, t, datetime.datetime(2024, 1, 1, 0, i))

    rows = [
        # user 1: view click purchase view click purchase -> 2 contiguous
        *[ev(1, i, t) for i, t in enumerate(
            ["view", "click", "purchase", "view", "click", "purchase"])],
        # user 2: view error click error purchase -> gapped only
        *[ev(2, i, t) for i, t in enumerate(
            ["view", "error", "click", "error", "purchase"])],
        # user 3: purchase click view -> wrong order, neither
        *[ev(3, i, t) for i, t in enumerate(["purchase", "click", "view"])],
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    out = {r["user_id"]: r.asDict() for r in sequence_patterns(df).collect()}
    assert out[1]["n_contiguous"] == 2 and out[1]["has_gapped"]
    assert out[2]["n_contiguous"] == 0 and out[2]["has_gapped"]
    assert out[3]["n_contiguous"] == 0 and not out[3]["has_gapped"]


def test_ensure_parallelism_noop_above_cores(spark):
    from inf2106_map_reduce_spark.tables import ensure_parallelism

    cores = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, cores + 4)
    assert ensure_parallelism(wide) is wide  # structurally untouched
    narrow = spark.range(0, 1000, 1, 1)
    out = ensure_parallelism(narrow)
    assert out.rdd.getNumPartitions() == cores
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_part_cooccurrence_counts_distinct_per_basket(spark):
    from inf2106_map_reduce_spark.operators.relational import (
        part_cooccurrence,
    )

    li = spark.createDataFrame(
        [
            (1, 10), (1, 20), (1, 20),   # dup item in basket: counts once
            (2, 10), (2, 20),
            (3, 10), (3, 30),
        ],
        "l_orderkey long, l_partkey long",
    )
    rows = part_cooccurrence(li, top_k=10).collect()
    got = {(r["item_a"], r["item_b"]): r["n_orders"] for r in rows}
    assert got == {(10, 20): 2, (10, 30): 1}
    assert rows[0]["rank"] == 1 and rows[0]["n_orders"] == 2


def _planted_graph(spark):
    # two chains, a 4-cycle, a star, and cross links — shapes where a
    # wrong fixed point would differ between algorithms
    edges = (
        [(i, i + 1) for i in range(1, 6)]          # chain 1..6
        + [(10, 11), (11, 12), (12, 13), (13, 10)]  # cycle
        + [(20, 21), (20, 22), (20, 23)]            # star
        + [(6, 20)]                                 # chain joins star
    )
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_cc_local_union_find_matches_distributed_minlabel(spark, monkeypatch):
    """The union-find gate must be a pure FAST PATH: forcing the gate
    to 0 routes the identical input through the distributed
    label-propagation loop, and the labels must match row-for-row —
    this is the automated coverage of the at-scale CC path now that
    every test-scale graph sits under the gate."""
    from inf2106_map_reduce_spark.functions import dedup

    edges = _planted_graph(spark)
    local = sorted(
        (r["node"], r["component"])
        for r in dedup.connected_components(edges).collect()
    )
    monkeypatch.setattr(dedup, "CC_LOCAL_SOLVE_EDGES", 0)
    dist = sorted(
        (r["node"], r["component"])
        for r in dedup.connected_components(edges).collect()
    )
    auto = sorted(
        (r["node"], r["component"])
        for r in dedup.connected_components(edges, algorithm="auto").collect()
    )
    assert local == dist == auto
    labels = dict(local)
    # chain 1..6 + star 20..23 joined via (6, 20): one component
    # rooted at 1; the 4-cycle stays its own component rooted at 10
    assert labels[1] == labels[6] == labels[21] == labels[23] == 1
    assert labels[10] == labels[13] == 10


def test_lloyd_local_matches_distributed(spark, monkeypatch):
    """Same contract for k-means: the driver local solve and the
    distributed partial-sums loop must produce the identical
    trajectory (round count, shift, cluster fingerprints) on the same
    input — covered by forcing the element gate to 0."""
    from inf2106_map_reduce_spark.functions import vector

    rows = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(4)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        df, info = vector.kmeans_lloyd_converged(
            emb, k=4, tol=1e-4, max_iter=8
        )
        fp = sorted(tuple(r) for r in df.collect())
        return fp, info["rounds"], round(info["shift"], 9)

    local = run()
    monkeypatch.setattr(vector, "LLOYD_LOCAL_SOLVE_ELEMENTS", 0)
    dist = run()
    assert local == dist


def test_ewma_calendar_decays_through_gaps(spark):
    import datetime

    from inf2106_map_reduce_spark.operators.timeseries import ewma_volume

    # 10 events on Jan 1, then 10 on Jan 10 — an 8-day gap
    rows = [(i, "view", datetime.datetime(2024, 1, 1, 0, i)) for i in range(10)]
    rows += [
        (100 + i, "view", datetime.datetime(2024, 1, 10, 0, i))
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp"
    )
    obs = {
        r["day"].day: r["ewma"]
        for r in ewma_volume(df, taps=7).collect()
    }
    cal = {
        r["day"].day: (r["ewma"], r["n"])
        for r in ewma_volume(df, calendar=True, taps=7).collect()
    }
    # observed-day form treats Jan 10 as adjacent to Jan 1:
    # (10 + 0.7*10) / 1.7 = 10
    assert obs[10] == 10.0
    # calendar form: Jan 1's weight at lag 9 is beyond the 7 taps, so
    # Jan 10's ewma = 10 / sum of 7 unit weights' worth... the window
    # sees lags 1..6 = zero-filled days: (10) / (1 + .7 + ... + .7^6)
    wsum = sum(0.7**j for j in range(7))
    assert abs(cal[10][0] - round(10 / wsum, 6)) < 1e-9
    # spine rows exist with n = 0 for the gap days, and they carry
    # the DECAYED trend (Jan 1's 10 events at lag 4), not zero
    wsum5 = sum(0.7**j for j in range(5))
    assert cal[5][1] == 0
    assert abs(cal[5][0] - round(0.7**4 * 10 / wsum5, 6)) < 1e-9


def test_welch_ttest_singleton_group_yields_nulls(spark):
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 5.0)], "g string, v double"
    )
    r = welch_ttest(df, "v", "g", "A", "B").collect()[0]
    assert r["n_b"] == 1 and r["mean_b"] == 5.0
    assert r["var_b"] is None and r["t_stat"] is None
    assert r["welch_df"] is None


def test_golden_record_no_matches_is_empty(spark):
    df = spark.createDataFrame(
        [(1, "abcd", "N1", 1.0), (2, "wxyz", "N1", 2.0)],
        "id long, name string, blk string, bal double",
    )
    assert golden_record(df, "id", "name", ["blk"], "bal").count() == 0


def test_welch_ttest_skips_null_samples_entirely(spark):
    df = spark.createDataFrame(
        [("A", 10.0), ("A", None), ("A", 20.0), ("B", 1.0), ("B", 2.0)],
        "g string, v double",
    )
    r = welch_ttest(df, "v", "g", "A", "B").collect()[0]
    # the NULL row is excluded from n AND the moments — mean is the
    # null-skipping 15.0, not a biased 10.0 over an inflated count
    assert r["n_a"] == 2 and r["mean_a"] == 15.0
    assert r["var_a"] == 50.0


def test_grouped_mode_tie_breaks_to_smallest_value(spark):
    from inf2106_map_reduce_spark.operators.stats import grouped_mode

    df = spark.createDataFrame(
        [("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c")],
        "grp string, v string",
    )
    r = grouped_mode(df, "v", ["grp"]).collect()[0]
    assert r["modal_value"] == "a"  # tie with 'b' at 2 -> smallest wins
    assert r["modal_count"] == 2
    assert r["modal_share"] == 0.4
