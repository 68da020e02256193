"""Corpus retrieval operators over ``documents`` / ``embeddings``:
BM25 lexical scoring and reciprocal-rank-fusion hybrid search — the
query side of a training-data / RAG pipeline (the reference's
map-reduce word-count is the degenerate form: tf without the ranking
model; see mapreduce/src/MapServant.java for the reference tokenizer
contract this module's normalization mirrors).

Scale stance (100 TB):
- The query's term set is a plan-time literal, so BM25 never explodes
  or shuffles the corpus: doc length and per-term tf are narrow array
  expressions on one scan, and a second narrow pass scores the
  matching docs.
- Corpus statistics (N, avgdl, per-term df) collapse into ONE scalar
  aggregate broadcast back — no driver-side state.
- Top-k uses orderBy().limit(k) (Spark plans TakeOrderedAndProject:
  per-partition heaps + a k-row driver merge), never a global window;
  the row_number that materializes ranks runs on the k-row result
  only, where a single partition is bounded by construction.

Determinism contract (hash-parity with the DuckDB oracles): every
floating term is rounded to 9 decimals before any cross-term sum, sums
fold in a sorted sequential order, rankings are total orders with id
tie-breaks, and final scores round to 6.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.functions import vector as vector_fns
from inf2106_map_reduce_spark.tables import load_table

# The fixed audit query: three corpus terms spanning the df range so
# idf actually differentiates (picked from the synthetic vocabulary).
DEFAULT_QUERY_TERMS: tuple[str, ...] = ("spark", "customer", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60
HYBRID_TOPK = 50
HYBRID_QUERY_VEC_ID = 0


def bm25_scores(
    df: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 score of every matching document for a fixed term query.

    Uses the Lucene/ATIRE idf ``ln((N - df + 0.5)/(df + 0.5) + 1)``
    (always positive) with the standard saturation/length terms. N and
    avgdl are defined over documents with >= 1 token so both engines
    agree on the denominator population.

    Plan: because the term set is a plan-time literal, the corpus is
    never exploded or shuffled — dl and per-term tf are narrow array
    expressions on one scan; (N, avgdl) and per-term df are scalar
    aggregates broadcast back into a second narrow scoring pass. Zero
    corpus-keyed shuffles (vs the tokenize->groupBy formulation, which
    re-exploded the corpus twice and shuffled it three times — at
    100 TB the scan IS the cost, so the narrow form wins outright).

    Determinism: per-term contributions round to 9 decimals and sum in
    sorted-term order as a static left fold; unmatched terms
    contribute an exact +0.0, which is an IEEE identity, so the result
    hash-matches the oracle's fold over matched terms only.
    """
    if not query_terms:
        raise ValueError("query_terms must be a non-empty term tuple")
    terms = sorted(query_terms)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = F.filter(F.split(norm, " "), lambda w: w != "")

    def _eq(term: str):
        # NB: a single-arg lambda — a 2-arg one would be called with
        # (element, index) by the higher-order-function binder
        return lambda w: w == term

    base = df.select(
        id_col,
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t))).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    pop = base.filter(F.col("dl") > 0)
    stats = pop.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    matched = pop.filter(
        reduce(lambda a, c: a | c, [F.col(f"_tf{i}") > 0 for i in range(len(terms))])
    )

    def term_contrib(i: int) -> Column:
        tf = F.col(f"_tf{i}")
        dfc = F.col(f"_df{i}")
        idf = F.log((F.col("n_docs") - dfc + 0.5) / (dfc + 0.5) + 1)
        denom = tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        return F.when(
            tf > 0, F.round(idf * tf * (k1 + 1) / denom, 9)
        ).otherwise(F.lit(0.0))

    score = reduce(
        lambda a, c: a + c, [term_contrib(i) for i in range(len(terms))]
    )
    n_matched = reduce(
        lambda a, c: a + c,
        [(F.col(f"_tf{i}") > 0).cast("long") for i in range(len(terms))],
    )
    return matched.crossJoin(F.broadcast(stats)).select(
        id_col,
        n_matched.alias("n_terms_matched"),
        F.round(score, 6).alias("bm25"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    k: int = HYBRID_TOPK,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 ranking: exact top-k by (bm25 desc, id asc) via
    TakeOrderedAndProject, then ranks materialized on the k-row result
    (single partition bounded by k, not by data size)."""
    scores = bm25_scores(df, query_terms, id_col=id_col)
    top = scores.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return top.withColumn("bm_rank", F.row_number().over(w))


def hybrid_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    query_vec_id: int = HYBRID_QUERY_VEC_ID,
    k: int = HYBRID_TOPK,
    rrf_k: int = RRF_K,
    dense_topk=None,
) -> DataFrame:
    """Reciprocal-rank-fusion hybrid retrieval: fuse the BM25 lexical
    top-k with the exact-cosine dense top-k (query = the stored vector
    of ``query_vec_id``, itself excluded) as
    ``sum(1 / (rrf_k + rank))`` over the lists a doc appears in.

    Scale: both lists are k-row results of distributed top-k; the
    fusion is a k-vs-k outer join on the driver-free path. The dense
    side reuses :func:`vector.brute_force_topk` (broadcast query,
    single scan) — swap in the LSH/IVF top-k for corpus-scale query
    loads; fusion is rank-only so the substitution is plan-local.
    """
    if dense_topk is None:
        dense_topk = vector_fns.brute_force_topk
    bm = bm25_topk(docs, query_terms, k=k).select(
        F.col("doc_id"), F.col("bm25"), F.col("bm_rank")
    )
    dense = dense_topk(
        embeddings, query_ids=(query_vec_id,), k=k
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.col("cos_sim"),
        F.col("rank").alias("cos_rank"),
    )
    fused = bm.join(dense, "doc_id", "full_outer")
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.round(1.0 / (rrf_k + F.col(r)), 9), F.lit(0.0)
    )
    return fused.select(
        "doc_id",
        "bm_rank",
        "cos_rank",
        F.round(contrib("bm_rank") + contrib("cos_rank"), 9).alias("rrf_score"),
    )


# ---------------------------------------------------------------------------
# Registry entry points
# ---------------------------------------------------------------------------


def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: BM25 top-50 for the fixed 3-term audit query."""
    return bm25_topk(load_table(spark, sf_dir, "documents"))


def docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: BM25 + exact-cosine RRF fusion (k=50)."""
    return hybrid_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def docs_hybrid_rrf_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the scale-path hybrid — same RRF fusion with the
    sign-LSH ANN index as the dense side (the plan-local substitution
    the fusion contract promises: rank lists in, ranks out)."""
    return hybrid_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        dense_topk=vector_fns.lsh_ann_topk,
    )


# ---------------------------------------------------------------------------
# MMR diversity re-ranking
# ---------------------------------------------------------------------------

#: MMR trade-off weights as SEPARATE literals (not ``1 - lam``):
#: Python's ``1 - 0.7`` is 0.30000000000000004 while a SQL literal
#: ``0.3`` parses to 0.299999999999999988…, so deriving mu would break
#: hash parity with the oracle. Both engines get the exact same two
#: doubles.
MMR_LAMBDA = 0.7
MMR_MU = 0.3
MMR_CANDIDATES = 16
MMR_K = 6


def mmr_rerank(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    n_candidates: int = MMR_CANDIDATES,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
    mu: float = MMR_MU,
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking: greedily select ``k``
    documents from the exact-cosine top-``n_candidates`` for a query,
    trading relevance against redundancy —
    ``mmr(d) = lam * rel(d) - mu * max_{s in S} sim(d, s)``, ties by
    vec_id. The diversity-aware context/selection pass a training-data
    or RAG pipeline runs AFTER retrieval: near-identical passages stop
    crowding out coverage (Carbonell & Goldstein 1998; the reference
    engine has no retrieval surface at all — its tokenizer contract in
    mapreduce/src/MapServant.java stops at word counting — so this is
    superset API like the rest of this module).

    Spark shape: the greedy state is bounded by ``n_candidates``, never
    by corpus size, so it runs on the driver over ONE collect. The
    ``n_candidates``-row relevance list is eagerly checkpointed; one
    query then returns, per candidate, ``rel`` and the step-1 score
    ``ROUND(lam*rel, 6)``, and for every ordered pair ``(a, b)`` the
    rounded cosine ``sim`` and the pair score
    ``ROUND(lam*rel_a - mu*sim, 6)`` (``n²`` rows, bounded by the
    candidate contract). A later step's score for ``a`` is
    ``ROUND(lam*rel_a - mu*mx, 6)`` with ``mx`` the largest ``sim`` to
    a picked neighbour, which is exactly the pair score at that
    neighbour, so the driver loop only compares Spark-computed values
    and never rounds. The picks come back as a JVM literal plan (no
    Python worker, no rescan). For a query FLEET the same shape holds
    keyed by query_id: one collect of candidate-bounded pairs per
    query, embarrassingly parallel across queries.

    Determinism: rel and sim are rounded-6 cosines (the
    ``cosine_batch`` fold is bit-identical to the oracle's
    ``list_sum``); each mmr score is ``ROUND(lam*rel - mu*mx, 6)``
    with the identical literal doubles, and ties go to the smaller
    vec_id, so the greedy trajectory — not just the final set —
    hash-matches the oracle's unrolled CTE chain.
    """
    cand = (
        vector_fns.brute_force_topk(
            embeddings, query_ids=(query_vec_id,), k=n_candidates
        )
        .join(embeddings.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", F.col("cos_sim").alias("rel"), "embedding")
        .localCheckpoint(eager=True)
    )
    rels = cand.select(
        F.col("vec_id").alias("id_a"),
        "rel",
        F.round(F.lit(lam) * F.col("rel"), 6).alias("mmr1"),
    )
    a = cand.select(
        F.col("vec_id").alias("id_a"), "rel", F.col("embedding").alias("emb_a")
    )
    b = cand.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    # broadcast the n_candidates-row side: the checkpoint's inherited
    # size estimate is the embeddings table's, so unhinted the planner
    # picks a non-broadcast CartesianProduct
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "rel",
            "id_b",
            F.round(
                vector_fns.cosine_batch(F.col("emb_a"), F.col("emb_b")), 6
            ).alias("sim"),
        )
        .select(
            "id_a",
            "id_b",
            "sim",
            F.round(F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("sim"), 6).alias(
                "pair"
            ),
        )
    )
    # candidate rows carry no id_b, pair rows no rel
    rows = rels.unionByName(pairs, allowMissingColumns=True).collect()
    rel: dict = {}
    pair: dict = {}
    for r in rows:
        if r.id_b is None:
            rel[r.id_a] = (r.rel, r.mmr1)
        else:
            pair[r.id_a, r.id_b] = (r.sim, r.pair)
    picks = []
    # per survivor: (sim, score) at its most similar picked neighbour
    nearest: dict = {}
    while rel and len(picks) < k:
        if picks:
            v = min(rel, key=lambda i: (-nearest[i][1], i))
            score = nearest[v][1]
        else:
            v = min(rel, key=lambda i: (-rel[i][0], i))
            score = rel[v][1]
        picks.append((len(picks) + 1, v, rel.pop(v)[0], score))
        for i in rel:
            if i not in nearest or pair[i, v][0] > nearest[i][0]:
                nearest[i] = pair[i, v]
    schema = (
        "array<struct<sel_rank:int,"
        f"vec_id:{cand.schema['vec_id'].dataType.simpleString()},"
        "relevance:double,mmr_score:double>>"
    )
    literal = F.array(
        *(F.struct(*(F.lit(x) for x in pick)) for pick in picks)
    ).cast(schema)
    return cand.sparkSession.range(1).select(F.inline(literal))


def docs_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: MMR-diverse 6-of-16 selection for the stored
    query vector 0."""
    return mmr_rerank(load_table(spark, sf_dir, "embeddings"))
