"""Property-based tests (hypothesis): invariants that must hold for
ARBITRARY inputs, not just the fixtures — the token format round-trip,
partitioner bounds, deterministic-sampling stability, and the
token-cap chunking law. Pure-Python properties run at full hypothesis
volume; Spark-backed ones use a few drawn examples per run (each
example is a distributed job)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from inf2106_map_reduce_spark.mrlite.job import (
    default_partitioner,
    java_string_hashcode,
)

# printable non-whitespace, no '|' (key separator), non-empty
_token_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="|", exclude_categories=("Z", "C")
    ),
    min_size=1,
    max_size=40,
)


@given(st.text(max_size=200))
def test_hashcode_matches_java_reference_formula(s):
    # closed form: sum(ch * 31^(n-1-i)) wrapped to signed 32-bit
    n = len(s)
    expected = sum(ord(ch) * pow(31, n - 1 - i, 2**32) for i, ch in enumerate(s))
    expected &= 0xFFFFFFFF
    if expected >= 0x80000000:
        expected -= 0x100000000
    assert java_string_hashcode(s) == expected


@given(st.text(max_size=100), st.integers(min_value=1, max_value=64))
def test_partitioner_is_total_and_bounded(key, n):
    p = default_partitioner(key, n)
    assert 0 <= p < n
    assert default_partitioner(key, n) == p  # deterministic


@given(st.lists(st.tuples(_token_text, _token_text), min_size=1, max_size=30))
@settings(max_examples=8, deadline=None)
def test_token_format_round_trip_arbitrary_records(spark, tmp_path_factory, records):
    """write → read preserves the multiset of (key, value) records for
    arbitrary pipe-free tokens."""
    from inf2106_map_reduce_spark.mrlite.tokenformat import (
        read_token_file,
        write_token_file,
    )

    df = spark.createDataFrame(records, "key string, value string")
    out = tmp_path_factory.mktemp("tok")
    write_token_file(df, str(out / "data"))
    back = read_token_file(spark, str(out / "data") + "/*.txt")
    assert sorted(map(tuple, back.collect())) == sorted(records)


@given(st.integers(min_value=1, max_value=120), st.integers(min_value=1, max_value=50))
@settings(max_examples=30, deadline=None)
def test_token_cap_chunking_law(tok_len, cap):
    """The reference's buffer-split law, checked in pure Python against
    the Spark expression's spec: chunks tile the token exactly."""
    token = "x" * tok_len
    chunks = [token[i : i + cap] for i in range(0, tok_len, cap)]
    assert "".join(chunks) == token
    assert all(len(c) == cap for c in chunks[:-1])
    assert 1 <= len(chunks[-1]) <= cap


def test_bpe_pairs_match_python_reference(spark):
    # tiny corpus, hand-checkable: 'aa ab aa b' — pairs weighted by
    # word frequency, 1-char words contribute nothing
    from collections import Counter

    from inf2106_map_reduce_spark.functions import text as text_fns

    docs = spark.createDataFrame(
        [(0, "aa ab aa b"), (1, "ab  ba")], "doc_id long, text string"
    )
    got = [
        (r["merge_rank"], r["pair"], r["n"])
        for r in text_fns.bpe_pair_counts(docs).collect()
    ]
    wc = Counter("aa ab aa b ab ba".split())
    pc: Counter = Counter()
    for w, c in wc.items():
        for i in range(len(w) - 1):
            pc[f"{w[i]} {w[i+1]}"] += c
    want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == [(i + 1, p, n) for i, (p, n) in enumerate(want)]


def test_rfm_scores_are_population_quintiles(spark, sf_oracle):
    """Each score's bucket sizes are near-quintile (exact percentile
    cuts), best recency earns the highest r_score, and segment
    concatenates the three digits."""
    from collections import Counter

    from inf2106_map_reduce_spark.operators import relational

    rows = relational.rfm_segments(spark, sf_oracle).collect()
    n = len(rows)
    for col in ("r_score", "f_score", "m_score"):
        counts = Counter(r[col] for r in rows)
        assert set(counts) <= {1, 2, 3, 4, 5}
        # frequency is heavily tied (small ints) so its buckets skew;
        # recency/monetary are near-continuous -> each bucket within
        # 2x of n/5
        if col != "f_score":
            for b in range(1, 6):
                assert counts.get(b, 0) < 2 * n / 5 + 5, (col, counts)
    best_r = min(rows, key=lambda r: (r["recency_days"], r["c_custkey"]))
    assert best_r["r_score"] == 5
    for r in rows[:20]:
        assert r["segment"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"


# ---------------------------------------------------------------------------
# Equi-depth closed form (pure-Python property, full hypothesis volume)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=511),  # fine bin id
            st.integers(min_value=1, max_value=1000),  # occupancy
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=2, max_value=16),  # bucket count B
)
def test_quantile_closed_form_equals_boundary_definition(hist, n_buckets):
    """The operator's closed form ``bucket(f) = ((cum−n)·B) DIV N``
    equals the DEFINITION it claims to collapse — ``#{q ∈ 1..B−1 :
    boundary_q < f}`` with ``boundary_q = least bin whose cumulative
    count reaches ceil(q·N/B)`` — for ARBITRARY occupied histograms
    (the seeded Spark fuzz checks a few dozen frames; this proves the
    integer arithmetic itself at full hypothesis volume)."""
    hist = sorted(hist)
    bins = [b for b, _ in hist]
    counts = [c for _, c in hist]
    total = sum(counts)
    cums = []
    acc = 0
    for c in counts:
        acc += c
        cums.append(acc)
    boundaries = []
    for q in range(1, n_buckets):
        rank = -(-q * total // n_buckets)  # ceil
        boundaries.append(
            next(b for b, cum in zip(bins, cums) if cum >= rank)
        )
    for b, c, cum in zip(bins, counts, cums):
        by_definition = sum(1 for e in boundaries if e < b)
        closed_form = min(
            n_buckets - 1, ((cum - c) * n_buckets) // total
        )
        assert closed_form == by_definition, (b, hist, n_buckets)


#: The registry entries whose stage winners stats.gbt_boost picks on
#: the driver.
GBT_ENTRIES = (
    "lineitem_gbt_stages",
    "lineitem_gbt_stages3",
    "lineitem_quantile_gbt",
    "lineitem_quantile_gbt3",
    "lineitem_status_quantile_gbt",
    "lineitem_status_quantile_gbt3",
    "lineitem_status_gbt_isotonic",
    "lineitem_gbt_isotonic",
)


def test_round9_matches_spark_round(spark, sf_oracle, monkeypatch):
    """``stats._round9``, the booster's driver-side rounding, equals
    Spark's ``round(x, 9)`` bit for bit: on every value the GBT
    registry entries round at sf0.01 (candidate scores and published
    leaf values), on random doubles from 1e-6 to 1e6 in magnitude, on
    HALF_UP ties in the 10th decimal, and on values whose Java 17
    ``Double.toString`` is not the shortest decimal."""
    import random

    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.operators import stats
    from inf2106_map_reduce_spark.queries import REGISTRY

    round9 = stats._round9
    seen: list[float] = []

    def recording(jvm, x):
        seen.append(x)
        return round9(jvm, x)

    monkeypatch.setattr(stats, "_round9", recording)
    for name in GBT_ENTRIES:
        REGISTRY[name].fn(spark, sf_oracle)
    assert len(seen) > 500, len(seen)

    rng = random.Random(20261020)
    values = seen + [
        rng.choice((-1, 1)) * 10 ** rng.uniform(-6, 6) for _ in range(3000)
    ]
    values += [
        float(f"{rng.choice('+-')}{rng.randrange(10**6)}."
              f"{rng.randrange(10**9):09d}5")
        for _ in range(3000)
    ]
    values += [2.82879384806159e17, 1e20, -1e-12, 5e-10, -5e-10, 0.0, -0.0]
    got = spark.createDataFrame(
        list(enumerate(values)), "i int, x double"
    ).select("i", F.round("x", 9).alias("r")).collect()
    assert len(got) == len(values)
    bad = []
    for r in got:
        x = values[r["i"]]
        mine = round9(spark._jvm, x)
        if mine.hex() != r["r"].hex():
            bad.append((x, r["r"], mine))
    assert not bad, bad[:10]
