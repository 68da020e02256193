"""Behavioral dedup tests on synthetic corpora with KNOWN duplicates —
the sf tables have no exact dups, so these fixtures inject them and
assert the operators actually find what they claim to find."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.functions import dedup
from inf2106_map_reduce_spark.tables import load_table

VOCAB = (
    "spark table scan filter join merge sort window batch stream value key "
    "row column vector hash group agg query data fast slow big small"
).split()


@pytest.fixture(scope="module")
def corpus(spark):
    """60 base docs + exact dups of 0-4 + near-dups (one word changed)
    of 5-9."""
    rng = random.Random(123)
    rows = []
    texts = {}
    for i in range(60):
        words = [rng.choice(VOCAB) for _ in range(80)]
        texts[i] = " ".join(words)
        rows.append((i, texts[i]))
    for j in range(5):  # exact duplicates
        rows.append((100 + j, texts[j]))
    for j in range(5, 10):  # near duplicates: mutate one word
        words = texts[j].split()
        words[40] = "MUTATED"
        rows.append((200 + j, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_finds_planted_duplicates(corpus):
    groups = dedup.exact_dedup_groups(corpus)
    dups = {r["canonical_id"]: r["n_copies"] for r in groups.filter(F.col("n_copies") > 1).collect()}
    assert dups == {0: 2, 1: 2, 2: 2, 3: 2, 4: 2}
    assert groups.count() == 65  # 70 docs, 5 merged


def test_minhash_lsh_finds_exact_and_near_dups(corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(corpus).collect()}
    for j in range(5):
        assert (j, 100 + j) in pairs, f"exact dup pair ({j},{100+j}) missed"
    near_found = sum((j, 200 + j) in pairs for j in range(5, 10))
    assert near_found >= 4, f"only {near_found}/5 near-dup pairs found"


def test_ngram_jaccard_scores(corpus):
    scored = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    for j in range(5):
        assert scored.get((j, 100 + j)) == 1.0  # exact dup -> jaccard 1
    for j in range(5, 10):
        pair = (j, 200 + j)
        if pair in scored:  # near dup: one word changed in 80 -> high jaccard
            assert 0.8 <= scored[pair] < 1.0


def test_simhash_near_dups_have_small_hamming_distance(corpus):
    sigs = {r["doc_id"]: r["simhash32"] for r in dedup.simhash(corpus).collect()}
    for j in range(5):
        assert sigs[j] == sigs[100 + j]  # identical text -> identical simhash
    for j in range(5, 10):
        dist = bin(sigs[j] ^ sigs[200 + j]).count("1")
        assert dist <= 6, f"near-dup hamming distance {dist} too large"
    # random doc pairs should be far apart
    far = bin(sigs[10] ^ sigs[30]).count("1")
    assert far >= 4


def test_minhash_approximates_jaccard(corpus):
    """Minhash collision rate across the 12 hashes estimates Jaccard."""
    sigs = dedup.minhash_signatures(corpus)
    a = sigs.filter(F.col("doc_id") == 5).collect()[0]
    b = sigs.filter(F.col("doc_id") == 205).collect()[0]
    agree = sum(a[f"mh{i}"] == b[f"mh{i}"] for i in range(dedup.N_HASHES))
    assert agree >= 8  # true jaccard ~0.9 -> expect most hashes to agree


def test_embedding_cosine_lsh_blocking_is_lossy_subset(spark, sf_oracle):
    """LSH blocking returns a subset of the exact near-dup pairs with
    usable recall (the 100 TB path trades recall for sub-quadratic cost)."""
    from inf2106_map_reduce_spark.tables import load_table

    e = load_table(spark, sf_oracle, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            e, threshold=0.3, use_lsh_blocking=False
        ).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            e, threshold=0.3, use_lsh_blocking=True
        ).collect()
    }
    assert blocked <= exact
    assert exact, "threshold 0.3 should yield near-dup pairs at sf0.01"
    recall = len(blocked) / len(exact)
    assert recall >= 0.5, f"LSH-blocked near-dup recall {recall:.2f} too low"


def test_hot_bucket_guard_splits_degenerate_corpus(spark):
    # All-identical embeddings collapse into ONE bucket per LSH table —
    # the adversarial case the sub-block guard exists for. With a tiny
    # row budget the bucket splits into many sub-block groups, and the
    # result must still be the complete all-pairs set (cos=1.0), each
    # pair exactly once.
    n = 60
    rows = [(i, [1.0] * 16 + [0.0] * 48) for i in range(n)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = dedup.embedding_cosine_pairs(
        e, threshold=0.9, use_lsh_blocking=True, bucket_row_budget=8
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert len(got) == len(pairs) == n * (n - 1) // 2
    assert all(abs(r["cos_sim"] - 1.0) < 1e-9 for r in got)


def test_hot_bucket_guard_is_a_noop_for_normal_buckets(spark, sf_oracle):
    from inf2106_map_reduce_spark.tables import load_table

    e = load_table(spark, sf_oracle, "embeddings")
    default = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in dedup.embedding_cosine_pairs(e, threshold=0.3).collect()
    }
    forced_split = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in dedup.embedding_cosine_pairs(
            e, threshold=0.3, bucket_row_budget=16
        ).collect()
    }
    assert default == forced_split


def test_connected_components_resolves_clusters(spark):
    # two chains and a singleton pair: {1,2,3,4}, {10,11}, {20,21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a bigint, id_b bigint",
    )
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_star_components_match_minlabel_on_mixed_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22), (4, 2)],
        "id_a bigint, id_b bigint",
    )
    want = {
        (r.node, r.component)
        for r in dedup.connected_components(edges, algorithm="minlabel").collect()
    }
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(edges, algorithm="star").collect()
    }
    assert got == want


def test_long_path_graph_converges_fast(spark):
    # Adversarial 1000-node path 0-1-2-...-999: min-label needs ~999
    # rounds (one hop per round); the star fallback folds it in a
    # logarithmic number of rounds. `auto` must produce the right
    # answer after switching at the diameter budget.
    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    ).coalesce(4)
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(
            edges, algorithm="auto", diameter_budget=4
        ).collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_star_components_pure_path(spark):
    n = 257
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    ).coalesce(4)
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(edges, algorithm="star").collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_auto_stays_on_minlabel_for_shallow_graphs(spark):
    # shallow graph converges inside the budget -> identical output to
    # the default path (the registry query's normal case)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    want = {
        (r.node, r.component)
        for r in dedup.connected_components(edges).collect()
    }
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(
            edges, algorithm="auto", diameter_budget=8
        ).collect()
    }
    assert got == want


def test_cluster_assignments_group_planted_dups(corpus):
    edges = dedup.ngram_jaccard_pairs(corpus, threshold=0.5).select("id_a", "id_b")
    cc = dedup.connected_components(edges)
    comp = {r.node: r.component for r in cc.collect()}
    for j in range(5):  # exact dup pairs (j, 100+j)
        assert comp[100 + j] == comp[j] == j
    for j in range(5, 10):  # near-dup pairs (j, 200+j)
        assert comp[200 + j] == comp[j] == j


def test_simhash_pairs_match_brute_force_exactly(spark, sf_smoke):
    """The 4x8-bit pigeonhole blocking is EXACT for Hamming <= 3 (a
    pair differing in <= 3 bits must agree on >= 1 of 4 disjoint
    bands) — so the banded join must equal the all-pairs scan."""
    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.functions import dedup
    from inf2106_map_reduce_spark.tables import load_table

    d = load_table(spark, sf_smoke, "documents")
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_candidate_pairs(d).collect()
    }
    sigs = dedup.simhash(d)
    a = sigs.selectExpr("doc_id AS id_a", "simhash32 AS sa")
    b = sigs.selectExpr("doc_id AS id_b", "simhash32 AS sb")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("long")
            .alias("hamming"),
        )
        .filter("hamming <= 3")
        .collect()
    }
    assert banded == brute


def test_simhash64_pairs_match_brute_force_exactly(spark, sf_smoke):
    """The 8x8-bit pigeonhole blocking over the 64-bit signature is
    EXACT up to Hamming 7, so at the default threshold 3 the banded
    join must equal the all-pairs scan — including signatures with the
    sign bit set (bit 63 enters as -2^63)."""
    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.functions import dedup
    from inf2106_map_reduce_spark.tables import load_table

    d = load_table(spark, sf_smoke, "documents")
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash64_candidate_pairs(d).collect()
    }
    sigs = dedup.simhash64(d)
    a = sigs.selectExpr("doc_id AS id_a", "simhash64 AS sa")
    b = sigs.selectExpr("doc_id AS id_b", "simhash64 AS sb")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("long")
            .alias("hamming"),
        )
        .filter("hamming <= 3")
        .collect()
    }
    assert banded == brute


def test_cc_strategies_agree_on_random_graph(spark):
    # seeded pseudo-random graph (mixed chains, forks, isolates-via-
    # self-pairing absent): all three strategies must produce the
    # identical (node, component) labeling
    import random

    rng = random.Random(20260813)
    n = 300
    edges_py = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(220)
    ]
    edges_py = [(a, b) for a, b in edges_py if a != b]
    edges = spark.createDataFrame(
        edges_py, "id_a bigint, id_b bigint"
    ).coalesce(4)
    results = []
    for kw in (
        {"algorithm": "minlabel"},
        {"algorithm": "star"},
        {"algorithm": "auto", "diameter_budget": 3},
    ):
        results.append(
            {
                (r.node, r.component)
                for r in dedup.connected_components(edges, **kw).collect()
            }
        )
    assert results[0] == results[1] == results[2]


def test_registry_stage_cache_matches_direct_pipeline(spark, sf_oracle):
    """The session-scoped stage cache must be a pure memoization: the
    registry query and a direct uncached pipeline run produce the
    identical edge set."""
    from inf2106_map_reduce_spark.tables import load_table

    cached = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_oracle).collect()
    }
    direct = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            load_table(spark, sf_oracle, "documents"), threshold=0.5
        ).collect()
    }
    assert cached == direct
    # second call returns the memoized frame (same object), not a rebuild
    assert dedup.dedup_ngram_jaccard(spark, sf_oracle) is dedup.dedup_ngram_jaccard(
        spark, sf_oracle
    )


def test_stage_cache_isolated_per_sf_dir(spark):
    """The session-scoped stage cache must key on sf_dir — results for
    one scale factor must never leak into another."""
    small = dedup.dedup_ngram_jaccard(spark, "/root/testdata/sf0.001")
    big = dedup.dedup_ngram_jaccard(spark, "/root/testdata/sf0.01")
    assert small is not big
    from inf2106_map_reduce_spark.tables import load_table

    for sf, df in (("/root/testdata/sf0.001", small), ("/root/testdata/sf0.01", big)):
        direct = {
            (r["id_a"], r["id_b"])
            for r in dedup.ngram_jaccard_pairs(
                load_table(spark, sf, "documents"), threshold=0.5
            ).collect()
        }
        assert {(r["id_a"], r["id_b"]) for r in df.collect()} == direct


def test_connected_components_rejects_unknown_algorithm(spark):
    import pytest as _pytest

    edges = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    with _pytest.raises(ValueError, match="unknown algorithm"):
        dedup.connected_components(edges, algorithm="bogus")


def test_star_components_partial_cap_still_labels_every_node(spark):
    """With max_iter=1 the star loop may stop before the fixed point;
    every node must still receive SOME label (graceful degradation,
    no crash, no dropped nodes)."""
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    ).coalesce(2)
    out = dedup.connected_components(edges, algorithm="star", max_iter=1).collect()
    assert {r.node for r in out} == set(range(n))
    # ... and exactly ONE label per node: the residual (non-fixed-point)
    # edge set holds several edges for some nodes, which the label step
    # must collapse with a grouped min — a bare projection would emit
    # duplicate conflicting rows here and fan out downstream joins.
    assert len(out) == n


def test_semantic_dedup_flags_planted_in_cluster_duplicates(spark):
    """SemDeDup semantics: near-identical vectors land in the same
    k-means cell and are marked duplicates of their lowest-id
    in-cluster neighbor above the threshold; distinct vectors are
    kept."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [-1.0, -1.0]),
        (3, [0.999, 0.01]),   # dup of 0
        (4, [0.01, 0.999]),   # dup of 1
        (5, [0.998, 0.02]),   # dup of 0 (0 < 3, lowest neighbor wins)
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {
        r["vec_id"]: (r["dup_of"], r["kept"])
        for r in dedup.semantic_dedup(e, k=3, n_iter=2, threshold=0.95).collect()
    }
    assert out[0] == (None, True)
    assert out[1] == (None, True)
    assert out[2] == (None, True)
    assert out[3] == (0, False)
    assert out[4] == (1, False)
    assert out[5] == (0, False)


def test_duplicate_span_report_planted_spans(spark):
    common = " ".join(f"c{i}" for i in range(12))      # 12 shared words
    rep = " ".join(f"x{i}" for i in range(10))         # intra-doc repeat
    c10 = " ".join(f"c{i}" for i in range(10))         # c0..c9
    docs = spark.createDataFrame(
        [
            (0, "a1 a2 a3 " + common),                 # 15 words, tail shared
            (1, common + " b1 b2"),                    # 14 words, head shared
            (2, rep + " q " + rep),                    # 21 words, R..q..R
            (3, "too short here"),                     # < window: all zeros
            # doc 4: marked starts {0, 2} with start 1 unmarked but
            # OVERLAPPING coverage -> one span of union length 12,
            # never 2x10 (the overcount the union semantics prevent)
            (4, "p q " + c10 + " r"),
            (5, "p q " + " ".join(f"c{i}" for i in range(8))),  # dup of 4@0
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.duplicate_span_report(docs, window=10).collect()
    }
    assert rows[0].asDict() == {
        "doc_id": 0, "n_windows": 6, "n_dup_windows": 3,
        "n_spans": 1, "max_span_len": 12, "n_dup_words": 12,
    }
    assert rows[1].asDict() == {
        "doc_id": 1, "n_windows": 5, "n_dup_windows": 3,
        "n_spans": 1, "max_span_len": 12, "n_dup_words": 12,
    }
    # the repeated 10-gram appears twice WITHIN doc 2 -> two disjoint spans
    assert rows[2].asDict() == {
        "doc_id": 2, "n_windows": 12, "n_dup_windows": 2,
        "n_spans": 2, "max_span_len": 10, "n_dup_words": 20,
    }
    assert rows[3].asDict() == {
        "doc_id": 3, "n_windows": 0, "n_dup_windows": 0,
        "n_spans": 0, "max_span_len": 0, "n_dup_words": 0,
    }
    # overlapping-but-nonconsecutive marked starts {0, 2}: ONE span of
    # union length 12 (13-word doc) — not 2 spans x 10 words
    assert rows[4].asDict() == {
        "doc_id": 4, "n_windows": 4, "n_dup_windows": 2,
        "n_spans": 1, "max_span_len": 12, "n_dup_words": 12,
    }
    assert rows[5].asDict() == {
        "doc_id": 5, "n_windows": 1, "n_dup_windows": 1,
        "n_spans": 1, "max_span_len": 10, "n_dup_words": 10,
    }


def test_duplicate_span_report_matches_python_reference_on_random_corpus(spark):
    # random corpus with planted shared phrases and intra-doc repeats;
    # naive Python reference recomputes the full report
    rng = random.Random(1106)
    vocab = [f"w{i}" for i in range(50)]
    phrases = [
        [rng.choice(vocab) for _ in range(rng.randint(12, 25))] for _ in range(4)
    ]
    texts: dict[int, list[str]] = {}
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 60))]
        if rng.random() < 0.5:  # splice a shared phrase somewhere
            ph = rng.choice(phrases)
            at = rng.randint(0, len(words))
            words = words[:at] + ph + words[at:]
        if rng.random() < 0.2:  # intra-doc repeat of a chunk
            s = rng.randint(0, max(len(words) - 12, 0))
            words = words + words[s : s + 12]
        texts[i] = words

    W = 10
    from collections import Counter

    counts = Counter()
    for ws in texts.values():
        for s in range(max(len(ws) - W + 1, 0)):
            counts[tuple(ws[s : s + W])] += 1

    def ref_report(ws: list[str]) -> dict:
        n_win = max(len(ws) - W + 1, 0)
        marked = [
            s for s in range(n_win) if counts[tuple(ws[s : s + W])] >= 2
        ]
        spans = []
        for s in marked:
            # union semantics: merge while coverage stays contiguous
            # (start gap <= W covers overlap and adjacency)
            if spans and s - spans[-1][1] <= W:
                spans[-1][1] = s
            else:
                spans.append([s, s])
        return {
            "n_windows": n_win,
            "n_dup_windows": len(marked),
            "n_spans": len(spans),
            "max_span_len": max((e - s + W for s, e in spans), default=0),
            "n_dup_words": sum(e - s + W for s, e in spans),
        }

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in texts.items()],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup.duplicate_span_report(df, window=W).collect()
    }
    assert len(got) == len(texts)
    for i, ws in texts.items():
        want = {"doc_id": i, **ref_report(ws)}
        assert got[i] == want, (i, got[i], want)


def test_pagerank_matches_python_reference_on_planted_graph(spark):
    # star (0-1,0-2,0-3) + disjoint edge (4-5): center outranks leaves,
    # and the python reference reproduces the exact rounded trajectory
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["degree"], r["pagerank"])
        for r in dedup.pagerank(edges).collect()
    }

    sym = [(0, 1), (0, 2), (0, 3), (4, 5)]
    sym = sym + [(b, a) for a, b in sym]
    from collections import defaultdict

    deg = defaultdict(int)
    for u, _v in sym:
        deg[u] += 1
    n = len(deg)
    d = dedup.PAGERANK_DAMPING
    r = {u: 1.0 / n for u in deg}
    for _ in range(dedup.PAGERANK_ROUNDS):
        nxt = {}
        for v in deg:
            contribs = sorted(
                (u, round(r[u] / deg[u], 9)) for u, vv in sym if vv == v
            )
            s = 0.0
            for _u, c in contribs:
                s += c
            nxt[v] = round((1 - d) / n + d * s, 9)
        r = nxt
    want = {u: (deg[u], round(r[u], 6)) for u in deg}
    assert got == want
    assert got[0][1] > got[1][1]  # hub above satellite
    assert got[1] == got[2] == got[3]


def test_triangle_counts_planted_graph(spark):
    # K4 on {0,1,2,3} (4 triangles, each node in 3) + pendant edge 3-4
    # + disjoint edge 5-6 (no triangles); input deliberately contains
    # a flipped duplicate (1,0) to exercise canonicalization
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (5, 6)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: (r["degree"], r["triangles"], r["clustering"])
        for r in dedup.triangle_counts(edges).collect()
    }
    assert got[0] == (3, 3, 1.0)
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 3, 1.0)
    # node 3 has degree 4 (K4 + pendant): 3 triangles over C(4,2)=6 wedges
    assert got[3] == (4, 3, 0.5)
    assert got[4] == (1, 0, 0.0)
    assert got[5] == (1, 0, 0.0)
    assert got[6] == (1, 0, 0.0)


def test_triangle_counts_match_python_reference_on_random_graph(spark):
    import itertools
    import random

    rng = random.Random(1306)
    nodes = list(range(24))
    pairs = sorted(
        p for p in itertools.combinations(nodes, 2) if rng.random() < 0.25
    )
    edges = spark.createDataFrame(
        [(a, b) if rng.random() < 0.5 else (b, a) for a, b in pairs],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: (r["degree"], r["triangles"], r["clustering"])
        for r in dedup.triangle_counts(edges).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for n, nbrs in adj.items():
        t = sum(
            1 for u, v in itertools.combinations(sorted(nbrs), 2) if v in adj[u]
        )
        d = len(nbrs)
        want[n] = (d, t, round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else 0.0)
    assert got == want


def test_k_core_planted_multiround_peel(spark):
    # triangle {0,1,2} with a pendant chain 2-3-4-5: peeling is
    # sequential (5 first, then 4, then 3), so rounds must be 3 and
    # only the triangle survives with degree 2 each
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)],
        "id_a long, id_b long",
    )
    rows = dedup.k_core(edges).collect()
    got = {r["doc_id"]: r["degree"] for r in rows}
    assert got == {0: 2, 1: 2, 2: 2}
    assert {r["rounds"] for r in rows} == {3}


def test_k_core_empty_when_forest(spark):
    # a tree has no 2-core: everything peels away
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    assert dedup.k_core(edges).count() == 0


def test_k_core_matches_python_reference_on_random_graph(spark):
    import itertools
    import random

    rng = random.Random(2606)
    pairs = sorted(
        p
        for p in itertools.combinations(range(30), 2)
        if rng.random() < 0.12
    )
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    rows = dedup.k_core(edges).collect()
    got = {r["doc_id"]: r["degree"] for r in rows}

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rounds = 0
    while True:
        low = [n for n, nb in adj.items() if len(nb) < 2]
        if not low:
            break
        for n in low:
            for m in adj.pop(n):
                adj[m].discard(n)
        rounds += 1
    assert got == {n: len(nb) for n, nb in adj.items()}
    if rows:
        assert {r["rounds"] for r in rows} == {rounds}


def test_source_overlap_matrix_planted(spark):
    # edges: 1-2 (A,B cross), 2-3 (B,B within), 1-3 (A,B cross)
    docs = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "B"), (4, "C")],
        "doc_id bigint, source string",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    got = {
        (r["src_lo"], r["src_hi"]): (r["n_pairs"], r["n_docs"])
        for r in dedup.source_overlap_matrix(docs, edges).collect()
    }
    # (A,B): pairs 1-2 and 1-3 -> docs {1,2,3}; (B,B): pair 2-3 -> docs {2,3}
    assert got == {("A", "B"): (2, 3), ("B", "B"): (1, 2)}


def test_containment_flags_embedded_quote(spark):
    """A short doc fully embedded in a long one: low Jaccard but
    containment ~1.0 from the short side -> direction 'b_in_a'."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    long_doc = base + " " + " ".join(f"word{i} filler{i} extra{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, base)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    rows = dedup.containment_pairs(docs, pairs=pairs).collect()
    assert len(rows) == 1
    r = rows[0]
    # every shingle of doc 2 appears in doc 1
    assert r["containment_b"] == 1.0
    assert r["direction"] == "b_in_a"
    assert r["n_common"] == r["sz_b"]
    # symmetric jaccard on the same pair would be far below the bar
    assert r["n_common"] / (r["sz_a"] + r["sz_b"] - r["n_common"]) < 0.5


def test_containment_direction_cases(spark):
    """mutual / a_in_b / partial verdicts on planted overlaps."""
    a = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, a),
            (2, a),  # identical -> mutual
            (3, a + " eleven twelve thirteen fourteen fifteen sixteen"),
            (4, "one two three totally different words here now okay yes"),
        ],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["direction"]
        for r in dedup.containment_pairs(docs, pairs=pairs).collect()
    }
    assert got[(1, 2)] == "mutual"
    assert got[(1, 3)] == "a_in_b"  # 1's shingles all inside 3
    assert got[(1, 4)] == "partial"


# ---------------------------------------------------------------------------
# Prefix-filtered exact similarity join (AllPairs)
# ---------------------------------------------------------------------------


def test_prefix_jaccard_equals_ground_truth(spark, sf_oracle):
    # completeness: the prefix-filtered join must reproduce the FULL
    # common-shingle join's qualifying pairs exactly (zero recall loss)
    d = load_table(spark, sf_oracle, "documents")
    sh = dedup.shingle_table(d).localCheckpoint(eager=True)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(
            d, threshold=0.5, shingles=sh
        ).collect()
    }
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    all_pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    truth = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            d, pairs=all_pairs, threshold=0.5, shingles=sh
        ).collect()
    }
    assert got == truth
    assert len(got) > 0


def test_prefix_jaccard_keeps_pair_at_exact_threshold(spark):
    # J = 14/25 == 0.56 exactly, but 0.56 * 25 evaluates to
    # 14.000000000000002: without the float guard the larger doc's
    # index prefix shrinks from 12 to 11 tokens, i.e. to its eleven
    # df-1 shingles, and the only collision (its 12th) is dropped
    small = {f"s{i:02d}" for i in range(14)}
    docs = {1: small, 2: small | {f"a{i:02d}" for i in range(11)}}
    sh = spark.createDataFrame(
        [(d, s) for d, shingles in docs.items() for s in sorted(shingles)],
        "doc_id bigint, shingle string",
    )
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(
            sh, threshold=0.56, shingles=sh
        ).collect()
    }
    truth = set()
    for a in docs:
        for b in docs:
            j = len(docs[a] & docs[b]) / len(docs[a] | docs[b])
            if a < b and j >= 0.56:
                truth.add((a, b, round(j, 6)))
    assert got == truth == {(1, 2, 0.56)}


def test_prefix_filter_prunes_candidates(spark, sf_oracle):
    # the point of the prefix: strictly fewer candidate pairs than the
    # full common-shingle join generates
    d = load_table(spark, sf_oracle, "documents")
    sh = dedup.shingle_table(d).localCheckpoint(eager=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = sh.join(dfreq, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("m"),
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("m") - F.ceil(F.lit(0.5) * F.col("m")) + 1
    )
    n_prefix = prefix.count()
    n_all = sh.count()
    # J=0.5 keeps roughly half each doc's tokens in the prefix
    assert n_prefix < n_all * 0.6


def test_label_propagation_splits_barbell_where_cc_merges(spark):
    # two triangles joined by one bridge edge: connected components
    # merge everything; LPA's mode update must split along the dense
    # neighborhoods — {1,2,3} and {4,5,6} (trajectory hand-traced with
    # the (count DESC, label ASC) tie order)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "id_a bigint, id_b bigint",
    )
    got = {
        r.doc_id: r.community
        for r in dedup.label_propagation(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    cc = {
        r.node: r.component
        for r in dedup.connected_components(edges).collect()
    }
    assert len(set(cc.values())) == 1  # CC sees one blob


def test_minhash_hash_i_independent_of_n_hashes(spark, sf_oracle):
    """The structural claim the shared 64-hash signature stage rests
    on: hash i is the i%4-th md5 slice of digest i//4, never a
    function of how many hashes were requested — so the first 12
    columns of the 64-hash frame ARE the production 12-hash
    signature, and candidates built from the shared stage equal
    candidates built directly."""
    d = load_table(spark, sf_oracle, "documents")
    sh = dedup.shingle_table(d).localCheckpoint(eager=True)
    wide = dedup.minhash_signatures(
        d, n_hashes=dedup.MINHASH_EST_HASHES, shingles=sh
    )
    narrow = dedup.minhash_signatures(
        d, n_hashes=dedup.N_HASHES, shingles=sh
    )
    cols = ["doc_id"] + [f"mh{i}" for i in range(dedup.N_HASHES)]
    assert {tuple(r) for r in wide.select(*cols).collect()} == {
        tuple(r) for r in narrow.select(*cols).collect()
    }
    via_stage = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(d, signatures=wide).collect()
    }
    direct = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(d, shingles=sh).collect()
    }
    assert via_stage == direct and via_stage


def test_jaccard_threshold_filters_on_unrounded_ratio(spark):
    # True J = 1/3 exactly. The double 1/3 ≈ 0.33333333333333331, so
    # a filter on ROUND(j, 6) = 0.333333 drops this genuinely
    # qualifying pair at threshold=1/3 while the oracle's unrounded
    # WHERE keeps it — the engine must threshold the raw ratio and
    # round only for output (round-9 ADVICE item).
    from inf2106_map_reduce_spark.functions import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id bigint, text string"
    )
    thr = 1 / 3

    got = dedup.prefix_filter_jaccard_pairs(docs, threshold=thr).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]
    assert got[0].jaccard == 0.333333  # rounded for OUTPUT only

    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    got2 = dedup.ngram_jaccard_pairs(docs, pairs=pairs, threshold=thr).collect()
    assert [(r.id_a, r.id_b) for r in got2] == [(1, 2)]
    assert got2[0].jaccard == 0.333333


def test_cosine_fast_path_matches_distributed(spark, sf_oracle):
    # the size-gated single-batch fast path must be BIT-identical to
    # the distributed bucketed path — same pair set, same round-6
    # scores (it is the same semantics, only the physical strategy
    # differs; small_n_cap=0 forces the distributed form)
    from inf2106_map_reduce_spark.functions import dedup
    from inf2106_map_reduce_spark.tables import load_table

    e = load_table(spark, sf_oracle, "embeddings")
    fast = dedup.embedding_cosine_pairs(e, threshold=0.3)
    dist = dedup.embedding_cosine_pairs(e, threshold=0.3, small_n_cap=0)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in fast_plan, "gate did not take the fast path"
    got = {(r.id_a, r.id_b): r.cos_sim for r in fast.collect()}
    want = {(r.id_a, r.id_b): r.cos_sim for r in dist.collect()}
    assert got == want and got, f"sizes: fast={len(got)} dist={len(want)}"
