"""Round-16 optimization pins.

Covers the two classes of r16 change that need their own tests:
- the ``_spread_small_scan`` gate finally firing (its r15 form was a
  verified no-op — the py4j BigInt came back as a Python int, the
  ``.toString()`` raised, and the bare except returned the frame
  untouched), pinned in BOTH directions per the r15 VERDICT item 4;
- the fused Arrow signature pass feeding the dedup registry stages,
  pinned bit-identical against the JVM aggregate builders it replaced.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.operators import stats as st
from inf2106_map_reduce_spark.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parse_size_bytes_accepts_every_conf_shape():
    # engine session sets a bare digit string; a VANILLA session (the
    # driver's oracle harness) reports the default WITH a "b" suffix
    assert st._parse_size_bytes("134217728") == 134217728
    assert st._parse_size_bytes("134217728b") == 134217728
    assert st._parse_size_bytes("128m") == 134217728
    assert st._parse_size_bytes("1g") == 1073741824
    assert st._parse_size_bytes("1t") == 1024**4
    assert st._parse_size_bytes("2tb") == 2 * 1024**4
    assert st._parse_size_bytes("1p") == 1024**5
    with pytest.raises(ValueError):
        st._parse_size_bytes("lots")
    with pytest.raises(ValueError):
        st._parse_size_bytes("5x")


def test_spread_small_scan_gate_fires_and_stays_off_at_scale(
    spark, sf_oracle
):
    df = load_table(spark, sf_oracle, "lineitem").select(
        *st.LINEITEM_STATS_COLS
    )
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        # window case: floor < size <= max_split -> the spread fires
        spark.conf.set(key, str(size * 16))
        assert "RoundRobin" in _plan(
            st._spread_small_scan(df).agg(F.count(F.lit(1)))
        )
        # at-scale case: size > max_split (the input parallelizes its
        # own scan) -> untouched, no extra exchange
        spark.conf.set(key, str(max(size - 1, 1)))
        assert "RoundRobin" not in _plan(
            st._spread_small_scan(df).agg(F.count(F.lit(1)))
        )
        # tiny-input case: size <= max_split // 32 -> the epilogue is
        # smaller than the shuffle it would pay -> untouched
        spark.conf.set(key, str(size * 64))
        assert "RoundRobin" not in _plan(
            st._spread_small_scan(df).agg(F.count(F.lit(1)))
        )
    finally:
        spark.conf.set(key, saved)


def test_spread_small_scan_values_unchanged(spark, sf_oracle):
    df = load_table(spark, sf_oracle, "lineitem").select(
        *st.LINEITEM_STATS_COLS
    )
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, str(size * 16))
        spread = st.table_stats(
            load_table(spark, sf_oracle, "lineitem"),
            st.LINEITEM_STATS_COLS,
        )
        assert "RoundRobin" in _plan(spread)
        spread_rows = sorted(map(tuple, spread.collect()))
    finally:
        spark.conf.set(key, saved)
    plain = st.table_stats(
        load_table(spark, sf_oracle, "lineitem"), st.LINEITEM_STATS_COLS
    )
    assert sorted(map(tuple, plain.collect())) == spread_rows


# ---------------------------------------------------------------------------
# Fused Arrow signature pass (r16): bit-identity against the JVM
# grouped-aggregate builders it replaced in the registry stages.
# ---------------------------------------------------------------------------

def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_fused_signatures_match_jvm_builders(spark, sf_oracle):
    from inf2106_map_reduce_spark.functions import dedup as dd

    d = load_table(spark, sf_oracle, "documents")
    fused = dd.fused_signatures(d)
    mh_cols = [f"mh{i}" for i in range(dd.MINHASH_EST_HASHES)]
    assert _sorted_rows(
        fused.where("mh0 is not null").select("doc_id", *mh_cols)
    ) == _sorted_rows(
        dd.minhash_signatures(d, n_hashes=dd.MINHASH_EST_HASHES)
    )
    assert _sorted_rows(
        fused.where("simhash32 is not null").select(
            "doc_id", "simhash32", "simhash64"
        )
    ) == _sorted_rows(dd.simhash_signatures_both(d))


def test_fused_signatures_edge_docs_match_jvm(spark):
    from inf2106_map_reduce_spark.functions import dedup as dd

    rows = [
        (1, None),  # null text: absent from both frames
        (2, ""),  # empty: absent from both
        (3, "   "),  # spaces only: trim leaves nothing
        (4, "\t"),  # tab survives trim, collapses to empty words
        (5, "one two"),  # words but no 3-shingle: simhash only
        (6, "ONE two THREE two one"),  # dups + case
        (7, "\t leading tab text here"),  # leading empty word kept
        (8, "a  b\tc\nd e"),  # mixed whitespace collapse
        # capitals whose lowercase the JVM's case tables know and
        # Python 3.11's do not: lowering must happen on one side
        (9, "\u1c89 tje and \ua7cb rams horn"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    fused = dd.fused_signatures(d, n_hashes=12)
    mh_cols = [f"mh{i}" for i in range(12)]
    assert _sorted_rows(
        fused.where("mh0 is not null").select("doc_id", *mh_cols)
    ) == _sorted_rows(dd.minhash_signatures(d, n_hashes=12))
    assert _sorted_rows(
        fused.where("simhash32 is not null").select(
            "doc_id", "simhash32", "simhash64"
        )
    ) == _sorted_rows(dd.simhash_signatures_both(d))


def test_registry_stages_project_from_fused_pass(spark, sf_oracle):
    """The registry signature stages must carry the exact rows the
    grouped aggregates produced (presence semantics included)."""
    from inf2106_map_reduce_spark.functions import dedup as dd

    d = load_table(spark, sf_oracle, "documents")
    sigs = dd._registry_minhash_sigs(spark, sf_oracle)
    assert _sorted_rows(sigs) == _sorted_rows(
        dd.minhash_signatures(d, n_hashes=dd.MINHASH_EST_HASHES)
    )
    both = dd._registry_simhash_both(spark, sf_oracle)
    assert _sorted_rows(both) == _sorted_rows(
        dd.simhash_signatures_both(d)
    )


def test_shared_token_stage_matches_self_built(spark, sf_oracle):
    """The five registry consumers of the shared unigram token-count
    stage must compute exactly what their self-built forms compute."""
    from inf2106_map_reduce_spark.functions import text as tx
    from inf2106_map_reduce_spark.functions import pipeline as pl

    d = load_table(spark, sf_oracle, "documents")
    shared = tx.registry_token_counts(spark, sf_oracle)
    assert _sorted_rows(shared) == _sorted_rows(tx.unigram_tf_table(d))
    for self_built, from_stage in (
        (tx.tfidf(d), tx.tfidf(d, tf=shared)),
        (pl.unigram_logprob(d), pl.unigram_logprob(d, tf=shared)),
        (pl.unigram_entropy(d), pl.unigram_entropy(d, tf=shared)),
        (pl.dsir_scores(d), pl.dsir_scores(d, tf=shared)),
        (pl.adaptive_quality(d), pl.adaptive_quality(d, tf=shared)),
    ):
        assert _sorted_rows(self_built) == _sorted_rows(from_stage)
