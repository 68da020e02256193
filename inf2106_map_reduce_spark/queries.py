"""Query registry: every implemented operator as a named query with a
DuckDB oracle (the driver's t2 correctness gate).

Each entry: name -> QuerySpec(fn, oracle, desc). ``fn(spark, sf_dir)``
returns a DataFrame; ``oracle`` is ANSI SQL DuckDB runs over the same
parquet views — or ``None`` for genuinely non-SQL-expressible ops
(weaker rows-only check, per the driver contract).

Determinism contract (column names AND values hash-match):
- identical aliases in Spark and SQL;
- floating aggregates rounded identically on both sides;
- rankings/limits ordered by a total order;
- all content hashing via md5 (identical hex in both engines);
- dot products are sequential folds (bit-identical, verified).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from inf2106_map_reduce_spark.functions import (
    dedup,
    multimodal,
    pipeline,
    retrieval,
    sketches,
    text,
    udafs,
    vector,
)
from inf2106_map_reduce_spark.operators import (
    asof,
    bucketing,
    linkage,
    relational,
    skew,
    stats,
    timeseries,
)
from inf2106_map_reduce_spark.sources import roundtrip
from inf2106_map_reduce_spark.streaming import ingest as stream_ingest
from inf2106_map_reduce_spark.streaming import joins as stream_joins
from inf2106_map_reduce_spark.streaming import stateful as stream_stateful
from inf2106_map_reduce_spark.streaming import windows as stream_windows


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    desc: str
    tags: tuple[str, ...] = field(default=())


# ---------------------------------------------------------------------------
# Shared SQL fragments (dedup pipeline, vector math)
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

_SHINGLES_CTE = f"""
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
  )) AS shingle
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents)
)
"""

_DIGESTS = ", ".join(
    f"md5('{j}:' || shingle) AS h{j}" for j in range(dedup.N_HASHES // 4)
)
_MINS = ", ".join(
    f"min(substr(h{i // 4}, {1 + 8 * (i % 4)}, 8)) AS mh{i}"
    for i in range(dedup.N_HASHES)
)

_BAND_CASE = "CASE b.band_idx " + " ".join(
    f"WHEN {b} THEN md5(mh{b * dedup.BAND_ROWS} || mh{b * dedup.BAND_ROWS + 1} || mh{b * dedup.BAND_ROWS + 2})"
    for b in range(dedup.N_HASHES // dedup.BAND_ROWS)
) + " END"

_CANDIDATES_SQL = f"""
WITH {_SHINGLES_CTE},
sig AS (SELECT doc_id, {_MINS}
        FROM (SELECT doc_id, {_DIGESTS} FROM sh) GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band_idx, {_BAND_CASE} AS band_sig
  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) b(band_idx)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id
)
"""

def _slice_bands_cte(prefix: str, where: str) -> str:
    """Shingle→signature→band CTE chain over a doc_id slice — the
    per-slice form of _CANDIDATES_SQL's chain, shared by the streaming
    incremental-ingest oracle (snapshot slice vs incoming slice)."""
    return f"""
{prefix}_sh AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
  )) AS shingle
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words
        FROM documents WHERE {where})
),
{prefix}_sig AS (SELECT doc_id, {_MINS}
        FROM (SELECT doc_id, {_DIGESTS} FROM {prefix}_sh) GROUP BY doc_id),
{prefix}_bands AS (
  SELECT doc_id, b.band_idx, {_BAND_CASE} AS band_sig
  FROM {prefix}_sig CROSS JOIN (VALUES (0), (1), (2), (3)) b(band_idx)
)"""


#: Streaming incremental near-dup ingest: snapshot slice = doc_id%10<3
#: (the incremental_ingest_dedup convention); the rest arrive on the
#: stream with a deterministic ingest clock (one doc per minute from
#: 2024-01-01T00:00). A doc is rejected iff ANY of its 4 LSH bands
#: matches a snapshot band; survivors collapse per (1 h ingest window,
#: exact content key) with min-doc_id-survives — and only windows the
#: final watermark (max incoming ingest_ts − 1 h) has passed are
#: emitted, the append-mode finalization contract.
_NEARDUP_INGEST_SQL = f"""
WITH {_slice_bands_cte("snap", "doc_id % 10 < 3")},
{_slice_bands_cte("inc", "doc_id % 10 >= 3")},
inc AS (
  SELECT doc_id, text,
         TIMESTAMP '2024-01-01 00:00:00'
           + (doc_id * 60) * INTERVAL 1 SECOND AS ingest_ts
  FROM documents WHERE doc_id % 10 >= 3
),
matched AS (
  SELECT DISTINCT i.doc_id
  FROM inc_bands i
  JOIN (SELECT DISTINCT band_idx, band_sig FROM snap_bands) s
    USING (band_idx, band_sig)
),
accepted AS (
  SELECT * FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM matched)
),
wm AS (SELECT max(ingest_ts) - INTERVAL 1 HOUR AS w FROM inc)
SELECT date_trunc('hour', ingest_ts) AS window_start,
       md5({_NORM}) AS content_key,
       MIN(doc_id) AS doc_id,
       COUNT(*) AS n_copies
FROM accepted
WHERE date_trunc('hour', ingest_ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
GROUP BY 1, 2
"""

# Shared near-dup edge chain (candidates -> exact Jaccard >= 0.5
# edges, symmetric) — consumed by the CC queries (with a recursive
# reach appended) and by the PageRank query (with unrolled rounds).
_EDGES_BODY = """,
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sa.shingle = sb.shingle
      GROUP BY c.id_a, c.id_b
    ),
    jac AS (
      SELECT c.id_a, c.id_b
      FROM common c
      JOIN sizes za ON za.doc_id = c.id_a
      JOIN sizes zb ON zb.doc_id = c.id_b
      WHERE c.n_common / (za.sz + zb.sz - c.n_common) >= 0.5
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM jac
      UNION SELECT id_b, id_a FROM jac
    )
    """

# Min-label reachability on top (used by dedup_clusters and
# dedup_canonical_corpus).
_CC_CTES = (
    _CANDIDATES_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + _EDGES_BODY
    + """,
    reach(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.id
    )
    """
)


def _pagerank_ctes() -> str:
    """Unrolled fixed-round PageRank over the near-dup edge set —
    mirrors functions.dedup.pagerank term for term: per-contribution
    rounding to 9, source-sorted sequential fold, (1-d)/N teleport with
    every constant forced to DOUBLE so DuckDB never drops into DECIMAL
    arithmetic."""
    from inf2106_map_reduce_spark.functions.dedup import (
        PAGERANK_DAMPING,
        PAGERANK_ROUNDS,
    )

    d = PAGERANK_DAMPING
    parts = [
        _CANDIDATES_SQL + _EDGES_BODY,
        """,
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT u AS id, CAST(1 AS DOUBLE) / nn.n AS r
           FROM deg CROSS JOIN nn)""",
    ]
    for i in range(1, PAGERANK_ROUNDS + 1):
        parts.append(f""",
    r{i} AS (
      SELECT e.v AS id,
             ROUND((1 - CAST({d} AS DOUBLE)) / ANY_VALUE(nn.n)
                   + CAST({d} AS DOUBLE)
                     * list_sum(list(ROUND(r.r / dg.deg, 9) ORDER BY e.u)),
                   9) AS r
      FROM edges e
      JOIN r{i - 1} r ON r.id = e.u
      JOIN deg dg ON dg.u = e.u
      CROSS JOIN nn
      GROUP BY e.v
    )""")
    parts.append(f"""
    SELECT r.id AS doc_id, dg.deg AS degree, ROUND(r.r, 6) AS pagerank
    FROM r{PAGERANK_ROUNDS} r JOIN deg dg ON dg.u = r.id
    """)
    return "".join(parts)


def _labelprop_ctes() -> str:
    """Unrolled synchronous label propagation over the near-dup edge
    set — mirrors functions.dedup.label_propagation round for round:
    mode of neighbor labels, ties broken by smallest label. Pure
    integer arithmetic, so the trajectory hash-matches exactly."""
    from inf2106_map_reduce_spark.functions.dedup import LPA_ROUNDS

    parts = [
        _CANDIDATES_SQL + _EDGES_BODY,
        """,
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges)""",
    ]
    for i in range(1, LPA_ROUNDS + 1):
        parts.append(f""",
    l{i} AS (
      SELECT node, label FROM (
        SELECT e.u AS node, l.label,
               ROW_NUMBER() OVER (PARTITION BY e.u
                 ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM edges e JOIN l{i - 1} l ON l.node = e.v
        GROUP BY e.u, l.label
      ) WHERE rn = 1
    )""")
    parts.append(f"""
    SELECT node AS doc_id, label AS community FROM l{LPA_ROUNDS}
    """)
    return "".join(parts)


def _modularity_oracle() -> str:
    """Newman modularity of the unrolled LPA partition — mirrors
    functions.dedup.modularity term for term on top of the labelprop
    trajectory CTEs: exact integer m / degrees / internal counts, the
    identical e_c/m − (d_c/2m)² expression, and the single-partition
    Q window over the community frame."""
    from inf2106_map_reduce_spark.functions.dedup import LPA_ROUNDS

    lpa = _labelprop_ctes()
    ctes = lpa[: lpa.rindex("SELECT node AS doc_id")]
    return (
        ctes
        + f""",
    lab AS (SELECT node, label FROM l{LPA_ROUNDS}),
    m_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM jac),
    deg AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS k FROM edges GROUP BY u
    ),
    internal AS (
      SELECT la.label, CAST(COUNT(*) AS BIGINT) AS internal_edges
      FROM jac j
      JOIN lab la ON la.node = j.id_a
      JOIN lab lb ON lb.node = j.id_b AND lb.label = la.label
      GROUP BY 1
    ),
    dsum AS (
      SELECT l.label, CAST(SUM(d.k) AS BIGINT) AS degree_sum,
             CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM lab l JOIN deg d ON d.u = l.node GROUP BY 1
    ),
    per AS (
      SELECT d.label AS community, d.n_nodes,
             CAST(COALESCE(i.internal_edges, 0) AS BIGINT)
               AS internal_edges,
             d.degree_sum,
             CAST(COALESCE(i.internal_edges, 0) AS DOUBLE) / m.m
               - (CAST(d.degree_sum AS DOUBLE) / (2 * m.m))
                 * (CAST(d.degree_sum AS DOUBLE) / (2 * m.m)) AS contrib
      FROM dsum d LEFT JOIN internal i ON i.label = d.label, m_ m
    )
    SELECT community, n_nodes, internal_edges, degree_sum,
           ROUND(contrib, 6) AS contribution,
           ROUND(SUM(contrib) OVER (), 6) AS modularity
    FROM per ORDER BY community
    """
    )


def _k_core_oracle(rounds: int) -> str:
    """Unrolled simultaneous-peel 2-core over the near-dup edge set —
    mirrors functions.dedup.k_core round for round; ``rounds`` is a
    constant of the dataset (dedup.K_CORE_ROUNDS), rendered per SF by
    :func:`oracle_for`."""
    k = dedup.K_CORE_K
    parts = [
        _CANDIDATES_SQL
        + _EDGES_BODY
        + ",\n    a0 AS (SELECT id_a AS u, id_b AS v FROM jac)"
    ]
    for i in range(rounds):
        parts.append(f""",
    d{i} AS (SELECT u, COUNT(*) AS c FROM
             (SELECT u, v FROM a{i} UNION ALL SELECT v, u FROM a{i})
             GROUP BY u),
    bad{i} AS (SELECT u FROM d{i} WHERE c < {k}),
    a{i + 1} AS (SELECT a.u, a.v FROM a{i} a
               WHERE a.u NOT IN (SELECT u FROM bad{i})
                 AND a.v NOT IN (SELECT u FROM bad{i}))""")
    parts.append(f"""
    SELECT u AS doc_id, COUNT(*) AS degree,
           CAST({rounds} AS INTEGER) AS rounds
    FROM (SELECT u, v FROM a{rounds} UNION ALL SELECT v, u FROM a{rounds})
    GROUP BY u
    """)
    return "".join(parts)


# Triangle counting over the same edge set — mirrors
# functions.dedup.triangle_counts: each triangle (a < b < c on
# canonical jac pairs) found once via a triple join, attributed to all
# three nodes, clustering = 2T / (deg * (deg - 1)).
_TRIANGLES_SQL = (
    _CANDIDATES_SQL
    + _EDGES_BODY
    + """,
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    tri AS (
      SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
      FROM jac p1
      JOIN jac p2 ON p2.id_a = p1.id_b
      JOIN jac p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
    ),
    pernode AS (
      SELECT n, COUNT(*) AS t FROM (
        SELECT a AS n FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY n
    )
    SELECT d.u AS doc_id, d.deg AS degree,
           CAST(COALESCE(t.t, 0) AS BIGINT) AS triangles,
           ROUND(CASE WHEN d.deg >= 2
                 THEN 2.0 * COALESCE(t.t, 0) / (d.deg * (d.deg - 1))
                 ELSE 0.0 END, 6) AS clustering
    FROM deg d LEFT JOIN pernode t ON t.n = d.u
    """
)

_SIMHASH_BITS = ", ".join(
    f"SUM(CASE WHEN (wh >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(32)
)
_SIMHASH_SIG = " + ".join(
    f"CASE WHEN b{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END" for j in range(32)
)

# 64-bit variant: word hash split into two signed-bigint-safe 32-bit
# halves; bit 63 enters the signature as the exact two's-complement
# -2^63 (DuckDB overflows on 1::BIGINT << 63, a literal does not).
_SIMHASH64_BITS = ", ".join(
    f"SUM(CASE WHEN ({'wh_lo' if j < 32 else 'wh_hi'} >> {j % 32}) & 1 = 1"
    f" THEN 1 ELSE -1 END) AS b{j}"
    for j in range(64)
)
_SIMHASH64_SIG = " + ".join(
    f"CASE WHEN b{j} > 0 THEN CAST({2**j if j < 63 else -(2**63)} AS BIGINT)"
    " ELSE 0 END"
    for j in range(64)
)

_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * p[2]))"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT.format(a=a, b=b)


# BM25 chain shared by docs_bm25_topk / docs_hybrid_rrf: term for term
# the retrieval module's plan (Lucene idf, k1/b saturation, per-term
# rounding to 9 before a word-sorted fold, final round to 6, top-k by
# the (bm25 DESC, doc_id) total order).
_BM25_TERMS_IN = "('" + "', '".join(retrieval.DEFAULT_QUERY_TERMS) + "')"
_BM25_K1 = retrieval.BM25_K1
_BM25_B = retrieval.BM25_B
_BM25_CTES = f"""
w2 AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
        FROM documents)
  WHERE word != ''
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM w2 GROUP BY 1),
g AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w2
       WHERE word IN {_BM25_TERMS_IN} GROUP BY 1, 2),
dfs AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
bm_t AS (
  SELECT tf.doc_id, tf.word,
         ROUND(ln((g.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
               * tf.tf * ({_BM25_K1} + 1)
               / (tf.tf + {_BM25_K1}
                  * (1 - {_BM25_B} + {_BM25_B} * dl.dl / g.avgdl)),
               9) AS term
  FROM tf JOIN dfs USING (word) JOIN dl USING (doc_id) CROSS JOIN g
),
bm_s AS (
  SELECT doc_id, COUNT(*) AS n_terms_matched,
         ROUND(list_sum(list(term ORDER BY word)), 6) AS bm25
  FROM bm_t GROUP BY doc_id
),
bm AS (
  SELECT doc_id, n_terms_matched, bm25, bm_rank
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                    AS bm_rank
        FROM bm_s)
  WHERE bm_rank <= {retrieval.HYBRID_TOPK}
)"""


def _hybrid_rrf_oracle(dense_cte: str) -> str:
    """RRF fusion epilogue shared by the exact-cosine and LSH-dense
    hybrid entries: full-outer join the BM25 top-k with the given dense
    rank list, score = sum of 1/(60+rank) over the lists a doc is on
    (each reciprocal rounded to 9, missing list contributes exact 0)."""
    return f"""
    WITH {_BM25_CTES},
    dense AS ({dense_cte})
    SELECT COALESCE(bm.doc_id, dense.doc_id) AS doc_id,
           bm.bm_rank, dense.cos_rank,
           ROUND(COALESCE(ROUND(CAST(1 AS DOUBLE)
                                / ({retrieval.RRF_K} + bm.bm_rank), 9), 0)
                 + COALESCE(ROUND(CAST(1 AS DOUBLE)
                                  / ({retrieval.RRF_K} + dense.cos_rank),
                                  9), 0),
                 9) AS rrf_score
    FROM bm FULL OUTER JOIN dense ON bm.doc_id = dense.doc_id
    """


def _mmr_oracle(
    qid: int | None = None,
    n: int | None = None,
    k: int | None = None,
) -> str:
    """Oracle for the MMR diversity re-rank: the greedy selection is
    UNROLLED into k chained CTEs — step t scores every unpicked
    candidate as ROUND(lam*rel - mu*max_sim_to_{sel1..sel(t-1)}, 6)
    and arg-maxes with the vec_id tie-break, exactly the trajectory
    the Spark unrolled loop walks. lam/mu are the same two literal
    doubles on both engines (0.7 / 0.3 — NOT derived as 1-lam, which
    differs in the last bit)."""
    qid = retrieval.HYBRID_QUERY_VEC_ID if qid is None else qid
    n = retrieval.MMR_CANDIDATES if n is None else n
    k = retrieval.MMR_K if k is None else k
    lam, mu = retrieval.MMR_LAMBDA, retrieval.MMR_MU
    cos_qe = (
        f"ROUND({_dot_sql('q.q_emb', 'e.embedding')}"
        f" / (sqrt({_dot_sql('q.q_emb', 'q.q_emb')})"
        f" * sqrt({_dot_sql('e.embedding', 'e.embedding')})), 6)"
    )
    cos_ab = (
        f"ROUND({_dot_sql('a.embedding', 'b.embedding')}"
        f" / (sqrt({_dot_sql('a.embedding', 'a.embedding')})"
        f" * sqrt({_dot_sql('b.embedding', 'b.embedding')})), 6)"
    )
    steps = [
        f"""sel1 AS (
      SELECT 1 AS sel_rank, vec_id, rel, ROUND({lam} * rel, 6) AS mmr
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    ]
    for t in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, t)
        )
        steps.append(
            f"""sel{t} AS (
      SELECT {t} AS sel_rank, vec_id, rel, mmr FROM (
        SELECT c.vec_id, c.rel,
               ROUND({lam} * c.rel - {mu} * MAX(s.sim), 6) AS mmr
        FROM cand c JOIN sim s ON s.id_a = c.vec_id
        WHERE s.id_b IN ({prev}) AND c.vec_id NOT IN ({prev})
        GROUP BY c.vec_id, c.rel
      ) ORDER BY mmr DESC, vec_id LIMIT 1
    )"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM sel{t}" for t in range(1, k + 1)
    )
    return f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {qid}),
    cand AS (
      SELECT e.vec_id, {cos_qe} AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != {qid}
      ORDER BY rel DESC, e.vec_id LIMIT {n}
    ),
    sim AS (
      SELECT ca.vec_id AS id_a, cb.vec_id AS id_b, {cos_ab} AS sim
      FROM cand ca JOIN cand cb ON ca.vec_id != cb.vec_id
      JOIN embeddings a ON a.vec_id = ca.vec_id
      JOIN embeddings b ON b.vec_id = cb.vec_id
    ),
    {', '.join(steps)}
    SELECT sel_rank, vec_id, rel AS relevance, mmr AS mmr_score
    FROM ({union})
    """


_LOGREG_FEATS = ["x_qty", "x_disc", "x_price"]


def _logreg_z(w: str) -> str:
    terms = "".join(
        f" + {w}.b{j + 1}*{f}" for j, f in enumerate(_LOGREG_FEATS)
    )
    return f"({w}.b0{terms})"


def _logreg_p(w: str) -> str:
    return f"(1.0/(1.0 + exp(-{_logreg_z(w)})))"


def _logreg_traj_ctes() -> tuple[str, str]:
    """Shared trajectory SQL for the logreg trainer AND its evaluation
    oracles (AUC, calibration): the GD trajectory is UNROLLED into one
    CTE per step, each re-deriving the weights as
    ROUND(w - lr*ROUND(mean_gradient, 9), 9) from the previous step's
    1-row CTE — the exact arithmetic stats.logreg_weights runs in-plan
    (Spark F.round and DuckDB ROUND are both half-away-from-zero;
    lr=0.5 multiplies exactly). Returns (joined CTE string beginning
    with ``base``, final step CTE name)."""
    steps = stats.LOGREG_STEPS
    lr = stats.LOGREG_LR
    feats = _LOGREG_FEATS
    p = _logreg_p

    step_ctes = [
        """base AS (
      SELECT l_quantity/50 AS x_qty,
             l_discount AS x_disc,
             l_extendedprice/100000 AS x_price,
             l_linestatus,
             CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
      FROM lineitem
    )""",
        "s0 AS (SELECT "
        + ", ".join(
            f"CAST(0.0 AS DOUBLE) AS b{j}" for j in range(len(feats) + 1)
        )
        + ")",
    ]
    for t in range(1, steps + 1):
        prev = f"s{t - 1}"
        cols = [
            f"ROUND(MIN(w.b0) - {lr} * ROUND(SUM({p('w')} - y)"
            f"/COUNT(*), 9), 9) AS b0"
        ]
        for j, f in enumerate(feats):
            cols.append(
                f"ROUND(MIN(w.b{j + 1}) - {lr}"
                f" * ROUND(SUM(({p('w')} - y) * {f})/COUNT(*), 9), 9)"
                f" AS b{j + 1}"
            )
        step_ctes.append(
            f"s{t} AS (SELECT {', '.join(cols)}"
            f" FROM base CROSS JOIN {prev} w)"
        )
    return ", ".join(step_ctes), f"s{steps}"


def _logreg_oracle() -> str:
    """Oracle for the logistic-regression trainer: unrolled trajectory
    (see _logreg_traj_ctes) + a metrics pass over base x s{steps}, so
    the decision boundary ``z >= 0`` is the identical fixed-structure
    double expression on both engines."""
    feats = _LOGREG_FEATS
    ctes, wf = _logreg_traj_ctes()
    p = _logreg_p
    pred = f"(CASE WHEN {_logreg_z('w')} >= 0 THEN 1.0 ELSE 0.0 END)"
    rows = " UNION ALL ".join(
        f"SELECT '{name}' AS coef, (SELECT b{j} FROM {wf}) AS weight,"
        f" n_rows, accuracy, log_loss FROM m"
        for j, name in enumerate(["bias"] + feats)
    )
    return f"""
    WITH {ctes},
    m AS (
      SELECT COUNT(*) AS n_rows,
             ROUND(SUM(CASE WHEN {pred} = y THEN 1.0 ELSE 0.0 END)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy,
             ROUND(SUM(-(y * ln({p('w')})
                         + (1.0 - y) * ln(1.0 - {p('w')})))
                   / COUNT(*), 6) AS log_loss
      FROM base CROSS JOIN {wf} w
    )
    {rows}
    """


def _logreg_scored_cte(extra: str = "") -> str:
    """``scored AS (...)`` CTE: the round-9 sigmoid score + label, the
    shared input of the AUC and calibration oracles. Mirrors
    stats.logreg_score term for term. ``extra`` prepends additional
    projected columns (e.g. the calibration segment key) — base
    carries every lineitem column it names."""
    ctes, wf = _logreg_traj_ctes()
    return (
        f"{ctes}, scored AS (SELECT {extra}ROUND({_logreg_p('w')}, 9)"
        f" AS p, y FROM base CROSS JOIN {wf} w)"
    )


def _logreg_auc_oracle(n_bins: int = stats.ROC_BINS) -> str:
    """Oracle for the binned-ROC evaluator: same trajectory, same
    round-9 score, same fixed binning, same cumulative-histogram rank
    arithmetic as stats.roc_auc_binned — every AUC/KS term is a
    ratio/product of exact integer-valued doubles, so the comparison
    is exact, not tolerance-based."""
    return f"""
    WITH {_logreg_scored_cte()},
    hist AS (
      SELECT GREATEST(0, LEAST(CAST(FLOOR(p * {n_bins}) AS INT),
                                {n_bins - 1})) AS bin,
             CAST(COUNT(*) AS DOUBLE) AS n_b,
             SUM(y) AS pos_b
      FROM scored GROUP BY 1
    ),
    pb AS (
      SELECT n_b, pos_b, n_b - pos_b AS neg_b,
             SUM(pos_b) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos,
             SUM(n_b - pos_b) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_neg,
             SUM(pos_b) OVER () AS tot_pos,
             SUM(n_b - pos_b) OVER () AS tot_neg
      FROM hist
    ),
    a AS (
      SELECT CAST(COALESCE(SUM(n_b), 0.0) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(pos_b), 0.0) AS BIGINT) AS n_pos,
             CAST(COALESCE(SUM(neg_b), 0.0) AS BIGINT) AS n_neg,
             SUM(pos_b * ((cum_neg - neg_b) + 0.5 * neg_b)) AS u,
             MAX(CASE WHEN tot_pos > 0 AND tot_neg > 0 THEN
                   ABS(cum_pos / tot_pos - cum_neg / tot_neg) END) AS ks
      FROM pb
    )
    SELECT n_rows, n_pos, n_neg, {n_bins} AS n_bins,
           CASE WHEN CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) > 0
                THEN ROUND(u / (CAST(n_pos AS DOUBLE)
                                * CAST(n_neg AS DOUBLE)), 6) END AS auc,
           CASE WHEN CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) > 0
                THEN ROUND(u / (CAST(n_pos AS DOUBLE)
                                * CAST(n_neg AS DOUBLE)) * 2 - 1, 6)
           END AS gini,
           ROUND(ks, 6) AS ks
    FROM a
    """


def _logreg_calibration_oracle(n_bins: int = stats.CALIBRATION_BINS) -> str:
    """Oracle for the reliability table: fixed uniform score bins over
    the shared round-9 score."""
    return f"""
    WITH {_logreg_scored_cte()}
    SELECT GREATEST(0, LEAST(CAST(FLOOR(p * {n_bins}) AS INT),
                              {n_bins - 1})) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(p) / COUNT(*), 6) AS mean_score,
           ROUND(SUM(y) / COUNT(*), 6) AS frac_positive
    FROM scored GROUP BY 1 ORDER BY bin
    """


def _lsh_buckets_cte() -> str:
    """The (vec_id, embedding, tbl, bucket) multi-table sign-LSH
    assignment as a UNION-ALL SQL body — the seeded hyperplanes
    (vector.lsh_planes defaults) embedded as DuckDB list literals.
    Shared by the cosine-pair, ANN and nearest-neighbor-join oracles;
    both engines round the projection to 9 before the strict sign
    test, so bucket bits are summation-order-proof."""
    from inf2106_map_reduce_spark.functions.vector import random_hyperplanes

    per_table = []
    for t in range(8):
        planes = random_hyperplanes(64, 4, seed=42 + 1000 * t)
        bits = []
        for i, plane in enumerate(planes):
            lit = "[" + ", ".join(repr(c) for c in plane) + "]"
            bits.append(
                f"(CASE WHEN ROUND({_dot_sql('embedding', lit)}, 9) > 0"
                f" THEN {2 ** i} ELSE 0 END)"
            )
        per_table.append(
            f"SELECT vec_id, embedding, {t} AS tbl,"
            f" ({' + '.join(bits)}) AS bucket FROM embeddings"
        )
    return " UNION ALL ".join(per_table)


def _lsh_cosine_oracle(threshold: float = 0.3) -> str:
    """Oracle for the LSH-blocked near-dup path: the sign-LSH
    hyperplanes are seeded driver-side constants
    (vector.random_hyperplanes), so the SAME planes are embedded here
    as DuckDB list literals — the bucket assignment, candidate join,
    and fold-cosine all mirror the Spark plan term for term, making an
    approximate algorithm exactly hash-checkable. Both engines round
    the projection to 9 decimals before the strict sign test (> 0), so
    bucket assignment is summation-order-proof: numpy's pairwise/SIMD
    sum and DuckDB's sequential fold agree exactly after rounding.
    """
    buck = _lsh_buckets_cte()
    cos = _dot_sql("a.embedding", "b.embedding")
    na = _dot_sql("a.embedding", "a.embedding")
    nb = _dot_sql("b.embedding", "b.embedding")
    return f"""
    WITH buck AS ({buck}),
    cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM buck l JOIN buck r
        ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
    )
    SELECT * FROM (
      SELECT id_a, id_b,
             ROUND({cos} / (sqrt({na}) * sqrt({nb})), 6) AS cos_sim
      FROM cand
      JOIN embeddings a ON id_a = a.vec_id
      JOIN embeddings b ON id_b = b.vec_id
    ) WHERE cos_sim >= {threshold}
    """


def _ann_nn_join_oracle() -> str:
    """Oracle for the LSH-blocked nearest-neighbor JOIN: shared bucket
    CTE (same hyperplane literals), the query/snapshot split mirrored
    in the candidate join's WHERE, fold-cosine scoring, and the
    (rounded cosine DESC, nn_id ASC) argmax as a ROW_NUMBER."""
    from inf2106_map_reduce_spark.functions.vector import (
        NN_SNAPSHOT_LT,
        NN_SNAPSHOT_MOD,
    )

    cos = _dot_sql("a.embedding", "b.embedding")
    na = _dot_sql("a.embedding", "a.embedding")
    nb = _dot_sql("b.embedding", "b.embedding")
    return f"""
    WITH buck AS ({_lsh_buckets_cte()}),
    cand AS (
      SELECT DISTINCT l.vec_id AS qid, r.vec_id AS nid
      FROM buck l JOIN buck r
        ON l.tbl = r.tbl AND l.bucket = r.bucket
      WHERE l.vec_id % {NN_SNAPSHOT_MOD} >= {NN_SNAPSHOT_LT}
        AND r.vec_id % {NN_SNAPSHOT_MOD} < {NN_SNAPSHOT_LT}
    ),
    scored AS (
      SELECT qid, nid,
             ROUND({cos} / (sqrt({na}) * sqrt({nb})), 6) AS cos_sim
      FROM cand
      JOIN embeddings a ON qid = a.vec_id
      JOIN embeddings b ON nid = b.vec_id
    )
    SELECT vec_id, nn_id, cos_sim FROM (
      SELECT qid AS vec_id, nid AS nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos_sim DESC, nid) AS rn
      FROM scored
    ) WHERE rn = 1 ORDER BY vec_id
    """


def _ann_lsh_oracle(
    k: int = 10,
    n_tables: int | None = None,
    qids: tuple[int, ...] = (0, 1, 2),
) -> str:
    """Exact oracle for the sign-LSH ANN path: same seeded hyperplanes
    as the Spark bucketizer (vector.random_hyperplanes, seed 42+1000t)
    embedded as SQL literals — identical technique to
    :func:`_lsh_cosine_oracle`, but per-query top-k instead of a
    global near-dup threshold. Projections round to 9 decimals before
    the sign test on both engines, so bucket assignment (and therefore
    the candidate set, and therefore the exact top-k) is
    summation-order-proof."""
    from inf2106_map_reduce_spark.functions.vector import (
        ANN_LSH_TABLES,
        random_hyperplanes,
    )

    per_table = []
    for t in range(n_tables if n_tables is not None else ANN_LSH_TABLES):
        planes = random_hyperplanes(64, 4, seed=42 + 1000 * t)
        bits = []
        for i, plane in enumerate(planes):
            lit = "[" + ", ".join(repr(c) for c in plane) + "]"
            bits.append(
                f"(CASE WHEN ROUND({_dot_sql('embedding', lit)}, 9) > 0"
                f" THEN {2 ** i} ELSE 0 END)"
            )
        per_table.append(
            f"SELECT vec_id, {t} AS tbl,"
            f" ({' + '.join(bits)}) AS bucket FROM embeddings"
        )
    buck = " UNION ALL ".join(per_table)
    cos = _dot_sql("a.embedding", "b.embedding")
    na = _dot_sql("a.embedding", "a.embedding")
    nb = _dot_sql("b.embedding", "b.embedding")
    return f"""
    WITH buck AS ({buck}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
      FROM buck q JOIN buck c
        ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id != q.vec_id
      WHERE q.vec_id IN ({', '.join(map(str, qids))})
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             ROUND({cos} / (sqrt({na}) * sqrt({nb})), 6) AS cos_sim
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.query_id
      JOIN embeddings b ON b.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, cos_sim, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


def _ann_ivf_oracle(
    k: int = 10,
    n_lists: int = 16,
    n_probe: int | None = None,
    qids: tuple[int, ...] = (0, 1, 2),
) -> str:
    """Exact oracle for the IVF ANN path: the seeded unit centroids
    (vector.ivf_centroids — the SAME Python floats the Spark index
    uses) become SQL literals; cell assignment is argmax over the
    per-centroid dots rounded to 9 decimals (first-lowest-index tie,
    mirroring Spark's array_position), probe ranking mirrors Spark's
    reverse(array_sort(struct(d, i))) — d DESC then cell DESC."""
    from inf2106_map_reduce_spark.functions.vector import (
        ANN_IVF_PROBE,
        ivf_centroids,
    )

    if n_probe is None:
        n_probe = ANN_IVF_PROBE
    cents = ivf_centroids(n_lists=n_lists, dim=64, seed=42)
    dots = ", ".join(
        f"ROUND({_dot_sql('embedding', '[' + ', '.join(repr(c) for c in cent) + ']')}, 9)"
        for cent in cents
    )
    cos = _dot_sql("a.embedding", "b.embedding")
    na = _dot_sql("a.embedding", "a.embedding")
    nb = _dot_sql("b.embedding", "b.embedding")
    return f"""
    WITH e AS (SELECT vec_id, [{dots}] AS cds FROM embeddings),
    assigned AS (
      SELECT vec_id, CAST(list_position(cds, list_max(cds)) - 1 AS INT) AS cell
      FROM e
    ),
    qcells AS (
      SELECT vec_id AS query_id, unnest(cds) AS d,
             CAST(unnest(range({n_lists})) AS INT) AS cell_i
      FROM e WHERE vec_id IN ({', '.join(map(str, qids))})
    ),
    probe AS (
      SELECT query_id, cell_i AS q_cell
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY d DESC, cell_i DESC) AS rc
            FROM qcells)
      WHERE rc <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, c.vec_id
      FROM assigned c JOIN probe p
        ON c.cell = p.q_cell AND c.vec_id != p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             ROUND({cos} / (sqrt({na}) * sqrt({nb})), 6) AS cos_sim
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.query_id
      JOIN embeddings b ON b.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, cos_sim, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


def _ann_brute_oracle(k: int = 10, qids: tuple[int, ...] = (0, 1, 2)) -> str:
    """Exact cosine top-k oracle (the recall baseline)."""
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id IN ({', '.join(map(str, qids))})),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND({_dot_sql('q.q_emb', 'e.embedding')}
               / (sqrt({_dot_sql('q.q_emb', 'q.q_emb')})
                  * sqrt({_dot_sql('e.embedding', 'e.embedding')})), 6) AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, vec_id, cos_sim, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


def _ann_recall_oracle() -> str:
    """Exact oracle for the ANN recall audit: all three index
    constructions (brute-force baseline, sign-LSH, IVF) mirrored in
    SQL over the audit's 5-query sample, intersected to per-method hit
    counts. The recall VALUES are exact (everything deterministic);
    ``recall_ok`` is the pinned TRUE literal — the envelope pattern —
    so if index tuning regresses below vector.ANN_RECALL_BAR the
    engine's computed FALSE hash-mismatches instead of both engines
    agreeing on a bad number."""
    from inf2106_map_reduce_spark.functions.vector import ANN_RECALL_QUERY_IDS

    qids = tuple(ANN_RECALL_QUERY_IDS)
    exact = _ann_brute_oracle(k=10, qids=qids)
    lsh = _ann_lsh_oracle(k=10, qids=qids)
    ivf = _ann_ivf_oracle(k=10, qids=qids)
    return f"""
    WITH exact_tk AS MATERIALIZED (
      SELECT query_id, vec_id FROM ({exact}) x
    ),
    lsh_tk AS MATERIALIZED (SELECT query_id, vec_id FROM ({lsh}) x),
    ivf_tk AS MATERIALIZED (SELECT query_id, vec_id FROM ({ivf}) x),
    m AS (
      SELECT 'ivf' AS method,
             (SELECT COUNT(*) FROM ivf_tk a JOIN exact_tk e
               ON a.query_id = e.query_id AND a.vec_id = e.vec_id) AS n_hits,
             (SELECT COUNT(*) FROM exact_tk) AS n_exact
      UNION ALL
      SELECT 'lsh' AS method,
             (SELECT COUNT(*) FROM lsh_tk a JOIN exact_tk e
               ON a.query_id = e.query_id AND a.vec_id = e.vec_id) AS n_hits,
             (SELECT COUNT(*) FROM exact_tk) AS n_exact
    )
    SELECT method, n_hits, n_exact,
           ROUND(CAST(n_hits AS DOUBLE) / n_exact, 4) AS recall,
           TRUE AS recall_ok
    FROM m
    """


def _kmeans_oracle(
    n_rounds: int,
    k: int = 8,
    extra_cols: str = "",
    custom_final: str | None = None,
) -> str:
    """Unrolled Lloyd k-means oracle: exactly ``n_rounds`` rounds of
    (distance -> argmin assign -> centroid update), seeds = vec_id
    0..k-1, centroids rounded to 9 decimals at every update — term for
    term the trajectory vector.kmeans_lloyd/_lloyd_iterate walks, so an
    ITERATIVE algorithm is exactly hash-checkable. ``n_rounds=2`` is
    the fixed-iteration registry entry; the convergence-driven entry
    unrolls the measured trajectory length
    (vector.KMEANS_CONVERGED_ROUNDS, per dataset) and pins the round
    count itself via ``extra_cols`` (see _kmeans_converged_oracle)."""
    # Every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and round i's centroids reference round i-1's several
    # times — un-materialized, the 19-round unroll expands the plan
    # EXPONENTIALLY (observed: one fd per inlined parquet scan blowing
    # the open-file limit, then ~10 min of planning/execution at 8 GB
    # RSS). Materialization makes it what it is semantically: a linear
    # chain of 19 tiny tables.
    parts = [
        f"""
        WITH e AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
        ),
        c0 AS MATERIALIZED (
          SELECT CAST(vec_id AS INT) AS cid,
                 list_transform(emb, x -> round(x, 9)) AS c
          FROM e WHERE vec_id < {k}
        )"""
    ]
    for i in range(1, n_rounds + 1):
        parts.append(f""",
        d{i} AS MATERIALIZED (
          SELECT e.vec_id, e.emb, c{i - 1}.cid,
                 list_sum(list_transform(list_zip(e.emb, c{i - 1}.c),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
          FROM e CROSS JOIN c{i - 1}
        ),
        a{i} AS MATERIALIZED (
          SELECT vec_id, emb, cid
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY d ASC, cid ASC) AS rn FROM d{i})
          WHERE rn = 1
        )""")
        if i < n_rounds:
            parts.append(f""",
        u{i} AS MATERIALIZED (
          SELECT cid, i.range AS pos,
                 round(AVG(emb[CAST(i.range AS INT)]), 9) AS c
          FROM a{i}, range(1, 65) i
          GROUP BY cid, i.range
        ),
        c{i} AS MATERIALIZED (
          SELECT c{i - 1}.cid, COALESCE(u.c, c{i - 1}.c) AS c
          FROM c{i - 1} LEFT JOIN (SELECT cid, list(c ORDER BY pos) AS c
                                   FROM u{i} GROUP BY cid) u
            ON u.cid = c{i - 1}.cid
        )""")
    if custom_final is not None:
        # caller-provided final query over the assignment CTE chain
        # (a{n_rounds} holds vec_id, emb, cid) — used by the
        # semantic-dedup oracle to reuse the exact trajectory
        parts.append("\n" + custom_final.replace("{A}", f"a{n_rounds}"))
    else:
        parts.append(f"""
        SELECT cid, COUNT(*) AS n_members,
               MIN(vec_id) AS min_member, MAX(vec_id) AS max_member,
               CAST(SUM(vec_id) AS BIGINT) AS member_id_sum{extra_cols}
        FROM a{n_rounds} GROUP BY cid
        """)
    return "".join(parts)


_WORDS = "list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '')"
_WORDS_LC = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), w -> w != '')"
)
_STOPLIST = "['" + "', '".join(text.STOPWORDS) + "']"


def _kmeans_converged_oracle(n_rounds: int) -> str:
    """Oracle for the convergence-driven k-means: the trajectory
    unrolled for exactly ``n_rounds`` with the round count and
    convergence verdict pinned as output columns."""
    return _kmeans_oracle(
        n_rounds,
        extra_cols=(
            f", CAST({n_rounds} AS INT) AS rounds, TRUE AS converged"
        ),
    )


def _ewma_oracle(calendar: bool = False) -> str:
    """Oracle for the truncated-EWMA volume smoother: the SAME
    left-to-right weighted lag chain the engine builds, with the
    weight doubles embedded via repr() so both engines multiply by
    bit-identical literals. ``calendar=True`` densifies the daily
    series onto a generate_series day spine first (zero fill), exactly
    mirroring the engine's calendar-decay variant."""
    taps, alpha = timeseries.EWMA_TAPS, timeseries.EWMA_ALPHA
    num = " + ".join(
        (
            f"COALESCE(LAG(n, {j}) OVER w * {(1.0 - alpha) ** j!r}, 0.0)"
            if j
            else f"n * {(1.0 - alpha) ** 0!r}"
        )
        for j in range(taps)
    )
    den = " + ".join(
        (
            f"(CASE WHEN LAG(n, {j}) OVER w IS NULL THEN 0.0"
            f" ELSE {(1.0 - alpha) ** j!r} END)"
            if j
            else f"{(1.0 - alpha) ** 0!r}"
        )
        for j in range(taps)
    )
    dense = """,
    bounds AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
               FROM raw GROUP BY event_type),
    spine AS (SELECT event_type,
                     unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
              FROM bounds),
    daily AS (
      SELECT s.event_type, s.day,
             CAST(COALESCE(r.n, 0) AS BIGINT) AS n
      FROM spine s LEFT JOIN raw r
        ON r.event_type = s.event_type AND r.day = s.day
    )""" if calendar else """,
    daily AS (SELECT * FROM raw)"""
    return f"""
    WITH raw AS (
      SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ){dense},
    sc AS (
      SELECT event_type, day, n, ROUND(({num}) / ({den}), 6) AS ewma
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, n, ewma,
           ROUND(n - LAG(ewma) OVER w2, 6) AS deviation,
           (LAG(ewma) OVER w2 IS NOT NULL
            AND n > 2.0 * LAG(ewma) OVER w2) AS is_spike
    FROM sc WINDOW w2 AS (PARTITION BY event_type ORDER BY day)
    """


def _rp_oracle() -> str:
    """Oracle for the JL random projection: the seeded Gaussian planes
    embedded as list literals (the LSH-oracle technique), projections
    rounded to 9, then the same left-to-right squared-sum chains the
    engine's codegen expressions evaluate."""
    planes = vector.random_hyperplanes(64, vector.RP_OUT_DIM, seed=vector.RP_SEED)
    projs = ", ".join(
        "ROUND("
        + _dot_sql(
            "embedding", "[" + ", ".join(repr(c) for c in p) + "]"
        )
        + f", 9) AS p{j}"
        for j, p in enumerate(planes)
    )
    psq = " + ".join(f"(p{j} * p{j})" for j in range(vector.RP_OUT_DIM))
    return f"""
    WITH pr AS (
      SELECT vec_id,
             ROUND({_dot_sql("embedding", "embedding")}, 6) AS orig_norm2,
             {projs}
      FROM embeddings
    ),
    jl AS (
      SELECT vec_id, orig_norm2,
             ROUND(({psq}) / {vector.RP_OUT_DIM}, 6) AS jl_norm2
      FROM pr
    )
    SELECT vec_id, orig_norm2, jl_norm2,
           (abs(jl_norm2 / orig_norm2 - 1.0) <= {vector.RP_REL_BOUND!r})
             AS within_jl_bound
    FROM jl
    """


def _training_manifest_oracle() -> str:
    """The composed corpus-build oracle: quality gate + near-dup
    losers (recursive CC reach) + 5-gram decontamination + content-
    hash split, each fragment identical to its standalone entry's
    oracle (docs_quality_filter / dedup_clusters / docs_contamination
    / docs_split), composed with doc_id semi/anti predicates."""
    return (
        _CC_CTES
        + f""",
    losers AS (
      SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(r) != id
    ),
    qual AS (
      SELECT doc_id, n_words FROM (
        SELECT doc_id,
               len({_WORDS}) AS n_words,
               ROUND(CAST(len(list_filter({_WORDS},
                     w -> list_contains({_STOPLIST}, lower(w)))) AS DOUBLE)
                     / greatest(len({_WORDS}), 1), 6) AS swr,
               ROUND(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '',
                     'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS pr
        FROM documents)
      WHERE n_words >= 15 AND swr <= 0.6 AND pr <= 0.2
    ),
    csh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 100 AS b,
             unnest(list_distinct(
               [array_to_string(words[i:i+4], ' ')
                FOR i IN range(1, len(words) - 3)])) AS shingle
      FROM (SELECT doc_id, {_WORDS_LC} AS words FROM documents)
    ),
    bench AS (SELECT DISTINCT shingle FROM csh WHERE b < 5),
    cont AS (SELECT DISTINCT s.doc_id FROM csh s JOIN bench USING (shingle)
             WHERE s.b >= 5)
    SELECT d.doc_id, d.lang, d.source, q.n_words,
           CASE WHEN CAST(('0x' || substr(md5(d.text), 1, 4)) AS BIGINT)
                     % 100 < 80 THEN 'train'
                WHEN CAST(('0x' || substr(md5(d.text), 1, 4)) AS BIGINT)
                     % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents d
    JOIN qual q USING (doc_id)
    WHERE CAST(('0x' || substr(md5('bench:' || CAST(d.doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 100 >= 5
      AND d.doc_id NOT IN (SELECT doc_id FROM losers)
      AND d.doc_id NOT IN (SELECT doc_id FROM cont)
        """
    )


def _minhash_estimate_oracle() -> str:
    """Estimator-audit oracle: the same 64-component seeded signature
    construction as the engine (16 md5 digests x 4 8-hex-char lanes),
    component-agreement fraction per LSH candidate pair, exact shingle
    Jaccard, and the 4-sigma envelope verdict (within_bound computed,
    not pinned as a literal — both engines evaluate the same
    comparison on identically rounded values)."""
    k = dedup.MINHASH_EST_HASHES
    digests = ", ".join(
        f"md5('{j}:' || shingle) AS h{j}" for j in range(k // 4)
    )
    mins = ", ".join(
        f"min(substr(h{i // 4}, {1 + 8 * (i % 4)}, 8)) AS mh{i}"
        for i in range(k)
    )
    agree = " + ".join(f"CAST(a.mh{i} = b.mh{i} AS INT)" for i in range(k))
    return (
        _CANDIDATES_SQL
        + f""",
        sig64 AS (SELECT doc_id, {mins}
                  FROM (SELECT doc_id, {digests} FROM sh) GROUP BY doc_id),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b AND sa.shingle = sb.shingle
          GROUP BY c.id_a, c.id_b
        ),
        exact AS (
          SELECT c.id_a, c.id_b,
                 ROUND(c.n_common / (za.sz + zb.sz - c.n_common), 6)
                   AS jaccard
          FROM common c
          JOIN sizes za ON za.doc_id = c.id_a
          JOIN sizes zb ON zb.doc_id = c.id_b
        ),
        est AS (
          SELECT c.id_a, c.id_b,
                 ROUND(({agree}) / CAST({k} AS DOUBLE), 6) AS est_jaccard
          FROM cand c
          JOIN sig64 a ON a.doc_id = c.id_a
          JOIN sig64 b ON b.doc_id = c.id_b
        )
        SELECT e.id_a, e.id_b, e.est_jaccard,
               COALESCE(x.jaccard, 0.0) AS jaccard,
               ROUND(ABS(e.est_jaccard - COALESCE(x.jaccard, 0.0)), 6)
                 AS abs_err,
               ROUND(ABS(e.est_jaccard - COALESCE(x.jaccard, 0.0)), 6)
                 <= {dedup.MINHASH_EST_BOUND} AS within_bound
        FROM est e LEFT JOIN exact x
          ON e.id_a = x.id_a AND e.id_b = x.id_b
        """
    )


def _bpe_train_oracle() -> str:
    """Unrolled BPE-training trajectory: per round, the weighted
    pair-count argmax over the vocabulary's symbol sequences, the
    literal boundary-safe replace (the engine's exact double-space
    representation), and the post-merge weighted symbol count. The
    merge pair flows through SQL columns (CROSS JOIN with the 1-row
    top-pair CTE), so the oracle needs no collected constants."""
    rounds = text.BPE_TRAIN_ROUNDS
    parts = [
        f"""
        WITH w AS (
          SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents
        ),
        v0 AS (
          SELECT ' ' || array_to_string(string_split(word, ''), '  ')
                   || ' ' AS seq,
                 COUNT(*) AS wc
          FROM w WHERE word != '' GROUP BY word
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        p{r} AS (
          SELECT ss[i] AS a, ss[i + 1] AS b, CAST(SUM(wc) AS BIGINT) AS n
          FROM (SELECT wc, string_split(trim(seq, ' '), '  ') AS ss
                FROM v{r - 1}),
               LATERAL unnest(range(1, len(ss))) t(i)
          GROUP BY 1, 2
        ),
        t{r} AS (SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1),
        v{r} AS (
          SELECT wc,
                 replace(seq, ' ' || t.a || '  ' || t.b || ' ',
                         ' ' || t.a || t.b || ' ') AS seq
          FROM v{r - 1} CROSS JOIN t{r} t
        ),
        s{r} AS (
          SELECT CAST(SUM(wc * len(string_split(trim(seq, ' '), '  ')))
                      AS BIGINT) AS tot
          FROM v{r}
        )""")
    selects = [
        f"SELECT CAST({r} AS INT) AS merge_rank, t.a AS token_a, "
        f"t.b AS token_b, t.n AS pair_count, s.tot AS corpus_symbols_after "
        f"FROM t{r} t CROSS JOIN s{r} s"
        for r in range(1, rounds + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL ".join(selects)


_OLS_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         -- pairwise-complete: n and every sum share one
         -- null-excluding predicate, mirroring stats._moments
         CAST(COUNT(CASE WHEN l_quantity IS NOT NULL
                          AND l_extendedprice IS NOT NULL THEN 1 END)
              AS DOUBLE) AS n,
         SUM(CASE WHEN l_extendedprice IS NOT NULL
                  THEN l_quantity END) AS sx,
         SUM(CASE WHEN l_quantity IS NOT NULL
                  THEN l_extendedprice END) AS sy,
         SUM(CASE WHEN l_extendedprice IS NOT NULL
                  THEN l_quantity * l_quantity END) AS sxx,
         SUM(CASE WHEN l_quantity IS NOT NULL
                  THEN l_extendedprice * l_extendedprice END) AS syy,
         SUM(l_quantity * l_extendedprice) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       ROUND(CASE WHEN n * sxx - sx * sx != 0
             THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
       ROUND(CASE WHEN n * sxx - sx * sx != 0
             THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
             END, 4) AS intercept,
       ROUND(CASE WHEN n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0
             THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
FROM m ORDER BY l_returnflag
"""


def _pca_power_oracle(steps: int = vector.PCA_POWER_STEPS) -> str:
    """Step-unrolled oracle for ``vector.pca_top_component``: the exact
    integer-quantized Gram (double cast BEFORE the ×1000 — float32
    multiply lands on .5 boundaries the double product never touches),
    the fixed-structure covariance expression, and one MATERIALIZED
    (u, norm, v) CTE triple per power step replaying the identical
    ``ROUND(·, 9)`` trajectory. MATERIALIZED is load-bearing: inlined,
    the chained CTE references re-expand the parquet scan
    exponentially in the step count (the kmeans-oracle lesson)."""
    head = """
WITH ex AS MATERIALIZED (
  SELECT vec_id, i.range AS i,
         CAST(ROUND(CAST(embedding[CAST(i.range + 1 AS INT)] AS DOUBLE)
                    * 1000, 0) AS BIGINT) AS x
  FROM embeddings, range(0, 64) i
),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
s1 AS MATERIALIZED (SELECT i, CAST(SUM(x) AS BIGINT) AS m FROM ex GROUP BY i),
g AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS s
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2
),
cov AS MATERIALIZED (
  SELECT g.i, g.j,
         CAST(g.s AS DOUBLE) / nn.n
           - (CAST(sa.m AS DOUBLE) / nn.n)
             * (CAST(sb.m AS DOUBLE) / nn.n) AS c
  FROM g, nn, s1 sa, s1 sb WHERE sa.i = g.i AND sb.i = g.j
),
v0 AS MATERIALIZED (
  SELECT i.range AS i, CAST(0.125 AS DOUBLE) AS v FROM range(0, 64) i
)"""
    steps_sql = []
    for k in range(1, steps + 1):
        steps_sql.append(
            f"""
u{k} AS MATERIALIZED (
  SELECT c.i AS i, SUM(c.c * v.v) AS u
  FROM cov c JOIN v{k - 1} v ON v.i = c.j GROUP BY 1
),
n{k} AS MATERIALIZED (SELECT SQRT(SUM(u * u)) AS nm FROM u{k}),
v{k} AS MATERIALIZED (SELECT i, ROUND(u / nm, 9) AS v FROM u{k}, n{k})"""
        )
    tail = f"""
fin AS MATERIALIZED (
  SELECT SUM(vi.v * c.c * vj.v) AS lam,
         SUM(CASE WHEN c.i = c.j THEN c.c END) AS tr
  FROM cov c
  JOIN v{steps} vi ON vi.i = c.i
  JOIN v{steps} vj ON vj.i = c.j
)
SELECT CAST(v.i AS INT) AS pos, ROUND(v.v, 6) AS loading,
       ROUND(fin.lam / 1000000.0, 6) AS eigenvalue,
       ROUND(fin.lam / fin.tr, 6) AS explained_ratio,
       nn.n AS n_rows
FROM v{steps} v, fin, nn ORDER BY pos"""
    return head + "," + ",".join(steps_sql) + "," + tail


def _phash_oracle() -> str:
    """Oracle for the perceptual-hash near-dup pairs: the 64
    byte/"pixel" reads, the integer-exact mean test (byte·64 > Σ), the
    two 32-bit halves, the 8×8-bit banding and the bit_count(xor)
    verification all mirrored term for term in DuckDB."""
    from inf2106_map_reduce_spark.functions.multimodal import (
        PHASH_BYTES,
        PHASH_MAX_HAMMING,
    )

    n = PHASH_BYTES
    px = ", ".join(
        f"ascii(substr(text, {i + 1}, 1)) AS p{i}" for i in range(n)
    )
    total = " + ".join(f"p{i}" for i in range(n))
    lo = " + ".join(
        f"(CASE WHEN p{j} * {n} > total THEN {2 ** j} ELSE 0 END)"
        for j in range(n // 2)
    )
    hi = " + ".join(
        f"(CASE WHEN p{j + n // 2} * {n} > total THEN {2 ** j} ELSE 0 END)"
        for j in range(n // 2)
    )
    return f"""
    WITH px AS (
      SELECT doc_id, {px}
      FROM documents WHERE length(text) >= {n}
    ),
    t AS (SELECT *, {total} AS total FROM px),
    s AS (
      SELECT doc_id, CAST({lo} AS BIGINT) AS lo, CAST({hi} AS BIGINT) AS hi
      FROM t
    ),
    bands AS (
      SELECT doc_id, lo, hi, CAST(i.range AS INT) AS band_idx,
             CASE WHEN i.range < 4 THEN (lo >> CAST(8 * i.range AS INT)) & 255
                  ELSE (hi >> CAST(8 * (i.range - 4) AS INT)) & 255
             END AS band_val
      FROM s, range(0, 8) i
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b,
             CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
                  AS BIGINT) AS hamming
      FROM cand
    ) WHERE hamming <= {PHASH_MAX_HAMMING}
    ORDER BY id_a, id_b
    """


def _bootstrap_ci_oracle() -> str:
    """Oracle for the Poisson-bootstrap CI: identical md5-uniform,
    identical Poisson(1) inverse-CDF thresholds (rendered from the
    SAME constants as the engine), exact integer-cents replicate
    means, and the exact order-statistic trim at B = 40. Replicate
    ROW_NUMBER ties are harmless: tied means have equal VALUES, so
    whichever tied row takes rank 2 / B−1 yields the same bound."""
    cdf = stats._POISSON1_CDF
    b = stats.BOOTSTRAP_REPLICAS
    cases = " ".join(
        f"WHEN u < {cdf[k]!r} THEN {k}" for k in range(len(cdf))
    )
    return f"""
    WITH rep AS (
      SELECT o_orderpriority AS grp, b.range AS b,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                       || ':' || CAST(b.range AS VARCHAR)),
                                  1, 8)) AS BIGINT)
               / 4294967296.0 AS u
      FROM orders, range(0, {b}) b
    ),
    wtd AS (
      SELECT grp, b, c, CASE {cases} ELSE {len(cdf)} END AS w FROM rep
    ),
    means AS (
      SELECT grp, b, CAST(SUM(w * c) AS BIGINT) AS wc,
             CAST(SUM(w) AS BIGINT) AS wn
      FROM wtd GROUP BY 1, 2
    ),
    m AS (
      SELECT grp, CAST(wc AS DOUBLE) / wn / 100.0 AS mean_b
      FROM means WHERE wn > 0
    ),
    ranked AS (
      SELECT grp, mean_b,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY mean_b) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS nb
      FROM m
    ),
    ci AS (
      SELECT grp, ROUND(MIN(mean_b), 6) AS ci_lo,
             ROUND(MAX(mean_b), 6) AS ci_hi
      FROM ranked WHERE rn = 2 OR rn = nb - 1 GROUP BY grp
    ),
    point AS (
      SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS DOUBLE) / COUNT(*) / 100.0, 6) AS mean_value
      FROM orders GROUP BY 1
    )
    SELECT p.grp AS o_orderpriority, n_rows, mean_value, ci_lo, ci_hi
    FROM point p JOIN ci USING (grp) ORDER BY 1
    """


def _corr_matrix_oracle(table: str, cols: list[str]) -> str:
    """Pearson-matrix oracle: the same single PAIRWISE-COMPLETE moment
    aggregation the engine runs (per pair: its own n plus 5 sums, all
    guarded by ``x IS NOT NULL AND y IS NOT NULL``) and the same
    explicit formula per pair, one UNION ALL branch per pair."""
    aggs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            x, y, t = cols[i], cols[j], f"{i}_{j}"
            both = f"{x} IS NOT NULL AND {y} IS NOT NULL"
            aggs.extend(
                [
                    f"CAST(COUNT(CASE WHEN {both} THEN 1 END) AS DOUBLE)"
                    f" AS n{t}",
                    f"SUM(CASE WHEN {both} THEN {x} END) AS sx{t}",
                    f"SUM(CASE WHEN {both} THEN {y} END) AS sy{t}",
                    f"SUM(CASE WHEN {both} THEN {x} * {x} END) AS qx{t}",
                    f"SUM(CASE WHEN {both} THEN {y} * {y} END) AS qy{t}",
                    f"SUM(CASE WHEN {both} THEN {x} * {y} END) AS p{t}",
                ]
            )
    branches = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            t = f"{i}_{j}"
            num = f"(n{t} * p{t} - sx{t} * sy{t})"
            den = (
                f"sqrt((n{t} * qx{t} - sx{t} * sx{t})"
                f" * (n{t} * qy{t} - sy{t} * sy{t}))"
            )
            branches.append(
                f"SELECT '{cols[i]}' AS col_x, '{cols[j]}' AS col_y, "
                f"ROUND(CASE WHEN {den} != 0 THEN {num} / {den} END, 6) "
                "AS pearson_r FROM m"
            )
    return (
        f"WITH m AS (SELECT {', '.join(aggs)} FROM {table})\n"
        + "\nUNION ALL ".join(branches)
    )


_TTEST_ORACLE = """
WITH m AS (
  SELECT
    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
         AS DOUBLE) AS na,
    SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal
             ELSE 0 END) AS sa,
    SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * c_acctbal
             ELSE 0 END) AS qa,
    CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
         AS DOUBLE) AS nb,
    SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal
             ELSE 0 END) AS sb,
    SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal * c_acctbal
             ELSE 0 END) AS qb
  FROM customer
  -- null-skipping Welch: NULL samples are excluded from the COUNTS as
  -- well as the sums (same predicate as the engine's
  -- `(group match) AND v.isNotNull()` conjunct) — counting them would
  -- compute the biased statistic the engine deliberately removed
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    AND c_acctbal IS NOT NULL
),
s AS (
  SELECT na, nb, sa / na AS ma, sb / nb AS mb,
         (qa - sa * sa / na) / (na - 1) AS va,
         (qb - sb * sb / nb) / (nb - 1) AS vb,
         (qa - sa * sa / na) / (na - 1) / na AS ea,
         (qb - sb * sb / nb) / (nb - 1) / nb AS eb
  FROM m
)
SELECT 'BUILDING' AS group_a, 'MACHINERY' AS group_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
       ROUND(va, 4) AS var_a, ROUND(vb, 4) AS var_b,
       ROUND((ma - mb) / sqrt(ea + eb), 6) AS t_stat,
       ROUND((ea + eb) * (ea + eb)
             / (ea * ea / (na - 1) + eb * eb / (nb - 1)), 6) AS welch_df
FROM s
"""


def _marker_list(lang: str) -> str:
    return "['" + "', '".join(text.LANG_MARKERS[lang]) + "']"


_LANG_SCORES = ", ".join(
    f"len(list_filter({_WORDS}, w -> list_contains({_marker_list(lang)}, lower(w)))) AS score_{lang}"
    for lang in text.LANG_MARKERS
)
_BEST = "greatest(" + ", ".join(f"score_{lang}" for lang in text.LANG_MARKERS) + ")"
_GUESS = (
    "CASE WHEN " + _BEST + " <= 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lang} = {_BEST} THEN '{lang}'" for lang in text.LANG_MARKERS
    )
    + " END"
)

_SESSION_CTES = """
gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
),
per AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS span_sec
  FROM sess GROUP BY user_id, session_id
)
"""

# Spark's session_window merges while gap < 30min (new session at
# gap >= 30min); the >= below mirrors that exactly.
_SESSION_CTES_GE = _SESSION_CTES.replace("> 1800000000", ">= 1800000000")

_TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""

#: Append-mode finalization contract, encoded exactly: a window is
#: emitted iff its END is <= the final watermark, and Spark tracks the
#: event-time watermark in MILLISECONDS (EventTimeWatermarkExec floors
#: the max observed event time to ms before subtracting the delay) —
#: hence the date_trunc('milliseconds', ...) on the max. Windows still
#: open when the stream drains (the trailing partial hour) are
#: withheld, exactly as a live deployment withholds them.
_TUMBLING_APPEND_SQL = """
WITH wm AS (
  SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w
  FROM events
)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
GROUP BY 1, 2
"""


REGISTRY: dict[str, QuerySpec] = {
    # -- aggregation ------------------------------------------------------
    "q1_pricing_summary": QuerySpec(
        relational.q1_pricing_summary,
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
        "TPC-H Q1 shape: filter + multi-aggregate",
        ("agg",),
    ),
    "agg_count_distinct": QuerySpec(
        relational.agg_count_distinct,
        """
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders,
               ROUND(SUM(DISTINCT o_totalprice), 2) AS sum_distinct_price
        FROM orders GROUP BY o_orderstatus
        """,
        "exact distinct aggregation",
        ("agg",),
    ),
    "rollup_revenue": QuerySpec(
        relational.rollup_revenue,
        """
        SELECT o_orderstatus, o_orderpriority,
               ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "ROLLUP subtotals",
        ("agg",),
    ),
    "cube_quantity": QuerySpec(
        relational.cube_quantity,
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n_items
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "CUBE over two dims",
        ("agg",),
    ),
    "grouping_sets_revenue": QuerySpec(
        relational.grouping_sets_revenue,
        """
        SELECT o_orderstatus, o_orderpriority,
               ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        "explicit GROUPING SETS",
        ("agg",),
    ),
    "pivot_returnflag": QuerySpec(
        relational.pivot_returnflag,
        """
        SELECT l_linestatus,
               ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS qty_a,
               ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS qty_n,
               ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS qty_r
        FROM lineitem GROUP BY l_linestatus
        """,
        "pivot (conditional aggregation)",
        ("agg",),
    ),
    # -- joins -------------------------------------------------------------
    "q3_shipping_priority": QuerySpec(
        relational.q3_shipping_priority,
        """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-01-01'
          AND l_shipdate > TIMESTAMP '1996-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "TPC-H Q3 shape: 3-way join + top-10",
        ("join",),
    ),
    "q5_local_supplier_volume": QuerySpec(
        relational.q5_local_supplier_volume,
        """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
        """,
        "TPC-H Q5 shape: 6-way join",
        ("join",),
    ),
    "q6_forecast_revenue": QuerySpec(
        relational.q6_forecast_revenue,
        """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
        """,
        "TPC-H Q6 shape: pure pushed-down filter + scalar agg",
        ("agg",),
    ),
    "q10_returned_items": QuerySpec(
        relational.q10_returned_items,
        """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "TPC-H Q10 shape: returned-item lost revenue, top-20",
        ("join",),
    ),
    "q14_promo_revenue": QuerySpec(
        relational.q14_promo_revenue,
        """
        WITH sums AS (
          SELECT
            ROUND(SUM(CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
              AS promo_revenue,
            ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-03-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
        )
        SELECT promo_revenue, total_revenue,
               ROUND(100.0 * promo_revenue / total_revenue, 4) AS promo_pct
        FROM sums
        """,
        "TPC-H Q14 shape: promo revenue share (ratio of rounded sums)",
        ("join",),
    ),
    "q18_large_volume_customers": QuerySpec(
        relational.q18_large_volume_customers,
        """
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               ROUND(o_totalprice, 2) AS o_totalprice, total_qty
        FROM (
          SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
          FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 150
        ) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_qty DESC, o_orderkey LIMIT 20
        """,
        "TPC-H Q18 shape: agg-first HAVING then join, top-20",
        ("join",),
    ),
    "q19_discounted_revenue": QuerySpec(
        relational.q19_discounted_revenue,
        """
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
        """,
        "TPC-H Q19 shape: disjunctive brand/size/quantity bands",
        ("join",),
    ),
    "q2_min_cost_part": QuerySpec(
        relational.q2_min_cost_part,
        """
        SELECT p_type, p_partkey, p_brand, ROUND(p_retailprice, 2) AS price
        FROM part
        WHERE p_size < 30
          AND p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                               WHERE p2.p_type = part.p_type AND p2.p_size < 30)
        ORDER BY p_type, p_partkey LIMIT 100
        """,
        "TPC-H Q2 shape: argmin-per-group via correlated min subquery",
        ("join", "subquery"),
    ),
    "q4_priority_waiting_orders": QuerySpec(
        relational.q4_priority_waiting_orders,
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
        """,
        "TPC-H Q4 shape: EXISTS with correlated date comparison",
        ("join", "subquery"),
    ),
    "q7_volume_shipping": QuerySpec(
        relational.q7_volume_shipping,
        """
        SELECT supp_nation, cust_nation, l_year,
               ROUND(SUM(volume), 2) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        )
        GROUP BY supp_nation, cust_nation, l_year
        """,
        "TPC-H Q7 shape: bilateral nation shipping volume by year",
        ("join",),
    ),
    "q8_market_share": QuerySpec(
        relational.q8_market_share,
        """
        WITH grouped AS (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                 ROUND(SUM(CASE WHEN n1.n_name = 'NATION_3'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END), 2) AS nation_volume,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_volume
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          JOIN region ON n2.n_regionkey = r_regionkey
          WHERE r_name = 'AMERICA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01'
          GROUP BY o_year
        )
        SELECT o_year, nation_volume, total_volume,
               ROUND(nation_volume / total_volume, 6) AS mkt_share
        FROM grouped
        """,
        "TPC-H Q8 shape: nation market share (ratio of rounded sums)",
        ("join",),
    ),
    "q9_product_type_profit": QuerySpec(
        relational.q9_product_type_profit,
        """
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS o_year,
               SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)
                               - p_retailprice * l_quantity) * 10000, 0)
                        AS BIGINT)) / 10000.0 AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
        """,
        "TPC-H Q9 shape: profit by supplier nation and year",
        ("join",),
    ),
    "q12_late_shipment_priority": QuerySpec(
        relational.q12_late_shipment_priority,
        """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY l_linestatus
        """,
        "TPC-H Q12 shape: late shipments by priority class",
        ("join",),
    ),
    "q13_customer_order_distribution": QuerySpec(
        relational.q13_customer_order_distribution,
        """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey
        )
        GROUP BY c_count
        """,
        "TPC-H Q13 shape: two-level aggregate order-count histogram",
        ("join", "agg"),
    ),
    "q15_top_supplier": QuerySpec(
        relational.q15_top_supplier,
        """
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN rev ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        "TPC-H Q15 shape: max-revenue supplier via reused aggregate view",
        ("join", "subquery"),
    ),
    "q16_supplier_count_by_part": QuerySpec(
        relational.q16_supplier_count_by_part,
        """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45'
          AND p_type NOT LIKE 'MEDIUM%'
          AND p_size IN (1, 4, 9, 14, 19, 23)
        GROUP BY p_brand, p_type, p_size
        """,
        "TPC-H Q16 shape: distinct supplier count with negated filters",
        ("join", "agg"),
    ),
    "q17_small_quantity_revenue": QuerySpec(
        relational.q17_small_quantity_revenue,
        """
        WITH avgq AS (
          SELECT l_partkey AS pk, AVG(l_quantity) AS aq
          FROM lineitem GROUP BY l_partkey
        )
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN avgq ON l_partkey = pk
        WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * aq
        """,
        "TPC-H Q17 shape: below-average-quantity revenue (agg + join-back)",
        ("join", "subquery"),
    ),
    "q21_waiting_suppliers": QuerySpec(
        relational.q21_waiting_suppliers,
        """
        WITH joined AS (
          SELECT l_orderkey, l_suppkey,
                 l_shipdate > o_orderdate + INTERVAL 30 DAY AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
        ),
        per_order AS (
          SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
                 COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
          FROM joined GROUP BY l_orderkey
        ),
        late_items AS (
          SELECT DISTINCT l_orderkey, l_suppkey FROM joined WHERE late
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM late_items
        JOIN per_order USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE n_supp >= 2 AND n_late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 20
        """,
        "TPC-H Q21 shape: sole-late-supplier on multi-supplier orders",
        ("join", "agg"),
    ),
    "q22_idle_customer_balance": QuerySpec(
        relational.q22_idle_customer_balance,
        """
        SELECT n_name, COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY n_name
        """,
        "TPC-H Q22 shape: above-average idle customer balances by nation",
        ("join", "subquery"),
    ),
    "semi_join_customers_with_orders": QuerySpec(
        relational.semi_join_customers_with_orders,
        """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        """,
        "LEFT SEMI join (EXISTS)",
        ("join",),
    ),
    "anti_join_customers_without_orders": QuerySpec(
        relational.anti_join_customers_without_orders,
        """
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "LEFT ANTI join (NOT EXISTS)",
        ("join",),
    ),
    "outer_join_order_counts": QuerySpec(
        relational.outer_join_order_counts,
        """
        SELECT c_custkey, COALESCE(cnt, 0) AS n_orders,
               ROUND(COALESCE(rev, 0), 2) AS revenue
        FROM customer LEFT JOIN (
          SELECT o_custkey, COUNT(*) AS cnt, SUM(o_totalprice) AS rev
          FROM orders GROUP BY o_custkey
        ) o ON c_custkey = o.o_custkey
        """,
        "LEFT OUTER with pre-aggregated build side",
        ("join",),
    ),
    "full_outer_nation_balance": QuerySpec(
        relational.full_outer_nation_balance,
        """
        SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
               c.cust_bal, s.supp_bal
        FROM (SELECT c_nationkey, ROUND(SUM(c_acctbal), 2) AS cust_bal
              FROM customer GROUP BY c_nationkey) c
        FULL JOIN (SELECT s_nationkey, ROUND(SUM(s_acctbal), 2) AS supp_bal
                   FROM supplier GROUP BY s_nationkey) s
          ON c.c_nationkey = s.s_nationkey
        """,
        "FULL OUTER join",
        ("join",),
    ),
    "range_join_price_bands": QuerySpec(
        relational.range_join_price_bands,
        """
        SELECT band, COUNT(*) AS n_parts,
               ROUND(AVG(p_retailprice), 4) AS avg_price
        FROM part JOIN (VALUES ('budget', 0.0, 500.0),
                               ('mid', 500.0, 1200.0),
                               ('premium', 1200.0, 1e9)) b(band, lo, hi)
          ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band
        """,
        "range (non-equi) join on literal bands",
        ("join",),
    ),
    "self_join_same_nation_pairs": QuerySpec(
        relational.self_join_same_nation_pairs,
        """
        SELECT s1.s_suppkey AS suppkey_a, s2.s_suppkey AS suppkey_b,
               s1.s_nationkey AS nationkey
        FROM supplier s1 JOIN supplier s2
          ON s1.s_nationkey = s2.s_nationkey AND s1.s_suppkey < s2.s_suppkey
        """,
        "self join pairs",
        ("join",),
    ),
    "bucketed_orders_lineitem_join": QuerySpec(
        bucketing.bucketed_orders_lineitem_join,
        bucketing.BUCKETED_JOIN_ORACLE,
        "shuffle-free co-located join via bucketed tables",
        ("join", "bucketing"),
    ),
    "asof_clicks_to_purchase": QuerySpec(
        asof.asof_clicks_to_purchase,
        """
        SELECT c.event_id, c.user_id, c.ts, p.ts AS purchase_ts,
               ROUND(p.value, 2) AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "as-of (point-in-time) join, union+window implementation",
        ("join", "custom"),
    ),
    # -- windows ------------------------------------------------------------
    "window_top_orders_per_customer": QuerySpec(
        relational.window_top_orders_per_customer,
        """
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price, rn
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
        WHERE rn <= 3
        """,
        "ROW_NUMBER top-3 per group",
        ("window",),
    ),
    "window_rank_battery": QuerySpec(
        relational.window_rank_battery,
        """
        SELECT o_custkey, o_orderkey,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               LAG(o_orderkey, 1) OVER w AS prev_order,
               LEAD(o_orderkey, 1) OVER w AS next_order,
               NTILE(4) OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "rank/dense_rank/lag/lead/ntile",
        ("window",),
    ),
    "window_frames_battery": QuerySpec(
        relational.window_frames_battery,
        """
        SELECT o_custkey, o_orderkey,
               ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg_3,
               ROUND(MIN(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS min_around,
               ROUND(MAX(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS max_around,
               ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY datediff('day', DATE '1970-01-01',
                                       CAST(o_orderdate AS DATE))
                     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS sum_30d
        FROM orders
        """,
        "bounded ROWS frames + 30-day RANGE frame",
        ("window",),
    ),
    "sketch_orders_per_status": QuerySpec(
        sketches.sketch_orders_per_status,
        # Sketch VALUES can't hash-match an exact oracle, but verdicts
        # about them can: the Spark side emits exact keys/counts plus
        # in-plan booleans certifying each sketch sits inside its
        # declared error envelope (100x/5-sigma margins -> the
        # booleans are deterministically TRUE whenever the sketches
        # honor their contract, and the query goes red if they don't).
        # The oracle computes the same exact values and TRUE literals.
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_distinct_cust,
               TRUE AS distinct_within_bound,
               TRUE AS q25_within_bound,
               TRUE AS q50_within_bound,
               TRUE AS q75_within_bound,
               TRUE AS q95_within_bound
        FROM orders GROUP BY o_orderstatus
        """,
        "HLL++ distinct + quantile sketches per order status, "
        "audited in-plan against exact envelopes",
        ("agg", "sketch"),
    ),
    "sketch_rollup_orders": QuerySpec(
        sketches.sketch_rollup_orders,
        # exact keys/counts + TRUE envelope verdict, as with
        # sketch_orders_per_status: the engine builds monthly HLL
        # sketch columns and UNIONS them to status grain; the oracle
        # computes the exact values the merged estimate must envelope
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT date_trunc('month', o_orderdate)) AS n_months,
               COUNT(DISTINCT o_custkey) AS n_distinct_cust,
               TRUE AS merged_within_bound
        FROM orders GROUP BY o_orderstatus
        """,
        "mergeable HLL sketch rollup: monthly sketches unioned to "
        "status grain, envelope-audited",
        ("agg", "sketch"),
    ),
    "sketch_percentile_merge": QuerySpec(
        sketches.sketch_percentile_merge,
        # mirrors functions.sketches.percentile_sketch_merge: the
        # oracle builds the histogram DIRECTLY off the union, so hash
        # equality proves the engine's per-source-sketch merge equals
        # the sketch of the whole (the mergeability audit); rank
        # certification recomputed identically
        f"""
        WITH b AS (
          SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   // {sketches.QUANTILE_BIN_CENTS} AS bin
          FROM lineitem
        ),
        merged AS (
          SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1
        ),
        cum AS (
          SELECT bin, cnt,
                 SUM(cnt) OVER (ORDER BY bin) AS cum,
                 CAST(SUM(cnt) OVER () AS BIGINT) AS n
          FROM merged
        ),
        qs AS (
          SELECT CAST(UNNEST([{", ".join(str(q) for q in sketches.SKETCH_QUANTILES)}])
                      AS DOUBLE) AS q
        ),
        qf AS (
          SELECT c.*, qs.q,
                 CAST(CEIL(qs.q * CAST(c.n AS DOUBLE)) AS BIGINT)
                   AS target_rank
          FROM cum c CROSS JOIN qs
        ),
        est AS (
          SELECT q, n AS n_rows, target_rank, cnt AS bin_cnt,
                 ROUND((bin * {float(sketches.QUANTILE_BIN_CENTS)}
                        + {float(sketches.QUANTILE_BIN_CENTS)}
                          * (target_rank - (cum - cnt)) / cnt) / 100.0, 6)
                   AS est_value
          FROM qf WHERE (cum - cnt) < target_rank AND cum >= target_rank
        ),
        audit AS (
          SELECT e.q, e.n_rows, e.target_rank, e.bin_cnt, e.est_value,
                 CAST(SUM(CASE WHEN l.l_extendedprice <= e.est_value
                               THEN 1 ELSE 0 END) AS BIGINT) AS actual_rank
          FROM lineitem l CROSS JOIN est e
          GROUP BY 1, 2, 3, 4, 5
        )
        SELECT q, n_rows, est_value, target_rank, actual_rank, bin_cnt,
               ABS(actual_rank - target_rank) <= bin_cnt
                 AS within_rank_bound
        FROM audit ORDER BY q
        """,
        "cross-source mergeable percentile sketch: per-ship-year "
        "extendedprice histograms merged by counter addition, 5-point "
        "quantile vector certified by GK/KLL-style rank error",
        ("agg", "sketch"),
    ),
    "sketch_countmin_freq": QuerySpec(
        sketches.sketch_countmin_freq,
        # mirrors functions.sketches.countmin_audit hash for hash:
        # seeded md5 ('cm{d}:' prefixes) -> first 8 hex -> int mod
        # 2^10, est = min over depth rows, one-sided error +
        # 2N/width envelope both recomputed identically
        f"""
        WITH seeds(d) AS (VALUES (0), (1), (2), (3)),
        bk AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
        pos AS (
          SELECT d, ('0x' || substr(md5('cm' || d || ':' || k), 1, 8))::BIGINT
                 % {sketches.CM_WIDTH} AS b
          FROM bk CROSS JOIN seeds
        ),
        sk AS (SELECT d, b, COUNT(*) AS cnt FROM pos GROUP BY 1, 2),
        pk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer),
        pp AS (
          SELECT k, d,
                 ('0x' || substr(md5('cm' || d || ':' || k), 1, 8))::BIGINT
                 % {sketches.CM_WIDTH} AS b
          FROM pk CROSS JOIN seeds
        ),
        est AS (
          SELECT pp.k, CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est_cnt
          FROM pp LEFT JOIN sk USING (d, b) GROUP BY pp.k
        ),
        exact AS (SELECT k, COUNT(*) AS c FROM bk GROUP BY 1),
        nt AS (SELECT COUNT(*) AS n FROM bk)
        SELECT CAST(est.k AS BIGINT) AS key,
               CAST(COALESCE(exact.c, 0) AS BIGINT) AS exact_cnt,
               est.est_cnt,
               est.est_cnt >= COALESCE(exact.c, 0) AS overestimate_ok,
               (est.est_cnt - COALESCE(exact.c, 0))
                 <= 2.0 * nt.n / {sketches.CM_WIDTH} AS within_bound
        FROM est LEFT JOIN exact ON exact.k = est.k CROSS JOIN nt
        """,
        "count-min sketch of order frequency per custkey probed with "
        "every customer: min-over-depth estimates, one-sided error "
        "and 2N/width envelope exactly audited",
        ("agg", "sketch"),
    ),
    "sketch_bloom_membership": QuerySpec(
        sketches.sketch_bloom_membership,
        # mirrors functions.sketches.bloom_membership_audit hash for
        # hash: seeded md5 -> first 8 hex chars -> int mod 2^15;
        # expected FP = fill^k via explicit multiplication
        f"""
        WITH bk AS (
          SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
        ),
        seeds(s) AS (VALUES ('0'), ('1'), ('2')),
        pos AS (
          SELECT DISTINCT ('0x' || substr(md5(s || ':' || k), 1, 8))::BIGINT
                 % {sketches.BLOOM_BITS} AS p
          FROM bk CROSS JOIN seeds
        ),
        nk AS (SELECT COUNT(*) AS n_keys_inserted FROM bk),
        nb AS (SELECT COUNT(*) AS n_bits_set FROM pos),
        pk AS (
          SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
        ),
        pp AS (
          SELECT k, ('0x' || substr(md5(s || ':' || k), 1, 8))::BIGINT
                 % {sketches.BLOOM_BITS} AS p
          FROM pk CROSS JOIN seeds
        ),
        hits AS (
          SELECT pp.k, COUNT(pos.p) AS h
          FROM pp LEFT JOIN pos ON pos.p = pp.p GROUP BY pp.k
        ),
        j AS (
          SELECT h.h = {sketches.BLOOM_HASHES} AS bloom_pos,
                 bk.k IS NOT NULL AS is_member
          FROM hits h LEFT JOIN bk ON bk.k = h.k
        ),
        a AS (
          SELECT COUNT(*) AS n_probed,
                 CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_members,
                 CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_positive,
                 CAST(SUM(CASE WHEN bloom_pos AND NOT is_member
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
                 CAST(SUM(CASE WHEN NOT bloom_pos AND is_member
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_fn
          FROM j
        )
        SELECT n_keys_inserted, n_bits_set, n_probed, n_members,
               n_bloom_positive, n_false_positive,
               ROUND(n_false_positive / NULLIF(n_probed - n_members, 0), 6)
                 AS fp_rate,
               n_fn = 0 AS no_false_negatives,
               COALESCE(n_false_positive
                        / NULLIF(n_probed - n_members, 0), 0.0)
                 <= ROUND(3.0 * ROUND((n_bits_set / {float(sketches.BLOOM_BITS)})
                          * (n_bits_set / {float(sketches.BLOOM_BITS)})
                          * (n_bits_set / {float(sketches.BLOOM_BITS)}), 9)
                          + 0.002, 9) AS fp_within_bound
        FROM a CROSS JOIN nk CROSS JOIN nb
        """,
        "mergeable Bloom-filter membership: filter over order "
        "custkeys probed with all customers, FP-rate envelope audit",
        ("agg", "sketch", "join"),
    ),
    "sketch_quantile_rollup": QuerySpec(
        sketches.sketch_quantile_rollup,
        # mirrors functions.sketches.binned_median_rollup: integer-cents
        # DIV bins, merged counts, fixed-structure interpolation
        f"""
        WITH b AS (
          SELECT o_orderstatus, year(o_orderdate) AS fine,
                 CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                   // {sketches.HIST_BIN_CENTS} AS bin
          FROM orders
        ),
        fine AS (
          SELECT o_orderstatus, fine, bin, COUNT(*) AS cnt
          FROM b GROUP BY 1, 2, 3
        ),
        merged AS (
          SELECT o_orderstatus, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
          FROM fine GROUP BY 1, 2
        ),
        cum AS (
          SELECT o_orderstatus, bin, cnt,
                 SUM(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bin)
                   AS cum,
                 SUM(cnt) OVER (PARTITION BY o_orderstatus) AS n,
                 COUNT(*) OVER (PARTITION BY o_orderstatus) AS n_bins
          FROM merged
        ),
        est AS (
          SELECT o_orderstatus, CAST(n AS BIGINT) AS n_rows, n_bins,
                 ROUND((bin * {float(sketches.HIST_BIN_CENTS)}
                        + {float(sketches.HIST_BIN_CENTS)}
                          * ((n / 2.0) - (cum - cnt)) / cnt) / 100.0, 6)
                   AS est_median
          FROM cum WHERE (cum - cnt) < n / 2.0 AND cum >= n / 2.0
        ),
        exact AS (
          SELECT o_orderstatus,
                 ROUND(quantile_cont(o_totalprice, 0.5), 6) AS exact_median
          FROM orders GROUP BY 1
        )
        SELECT est.o_orderstatus, n_rows, n_bins, est_median, exact_median,
               abs(est_median - exact_median)
                 <= {2.0 * sketches.HIST_BIN_CENTS / 100.0} AS within_two_bins
        FROM est JOIN exact USING (o_orderstatus)
        """,
        "mergeable equi-width-histogram median rollup: per-(status, "
        "year) bin counts merged to status grain, interpolated median "
        "certified within two bin widths of the exact percentile",
        ("agg", "sketch"),
    ),
    "sketch_heavy_hitters": QuerySpec(
        sketches.sketch_heavy_hitters,
        # exact top-20 words + TRUE audit verdicts: the Misra-Gries
        # candidate SET is partitioning-dependent (never hashable),
        # but its two theorems (guaranteed containment above n/(m+1),
        # estimate within [exact - n/(m+1), exact]) hold for ANY
        # partitioning — so the engine emits verdicts and the oracle
        # pins them TRUE (the sketch_orders_per_status pattern)
        """
        SELECT word, n, TRUE AS in_sketch_ok, TRUE AS est_within_bound
        FROM (
          SELECT word, COUNT(*) AS n
          FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
                FROM documents)
          WHERE word != ''
          GROUP BY word
          ORDER BY n DESC, word ASC
          LIMIT 20
        )
        """,
        "top-20 document words with Misra-Gries heavy-hitter sketch "
        "audit (containment + estimate-error envelopes)",
        ("agg", "sketch", "text"),
    ),
    "agg_stats_battery": QuerySpec(
        relational.agg_stats_battery,
        """
        SELECT l_returnflag,
               ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
               ROUND(var_samp(l_quantity), 4) AS var_qty,
               ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
               ROUND(covar_samp(l_discount, l_tax), 6) + 0.0 AS cov_disc_tax,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
        """,
        "stddev/variance/corr/covar/exact percentiles",
        ("agg",),
    ),
    "window_running_revenue": QuerySpec(
        relational.window_running_revenue,
        """
        SELECT o_custkey, o_orderkey,
               ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING), 2) AS running_revenue
        FROM orders
        """,
        "running cumulative sum",
        ("window",),
    ),
    # -- sort / limit / set ops ---------------------------------------------
    "top_k_orders": QuerySpec(
        relational.top_k_orders,
        """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        """,
        "global top-k (TakeOrderedAndProject)",
        ("sort",),
    ),
    "distinct_segments": QuerySpec(
        relational.distinct_segments,
        "SELECT DISTINCT c_mktsegment FROM customer",
        "DISTINCT projection",
        ("sort",),
    ),
    "setop_union": QuerySpec(
        relational.setop_union,
        """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        """,
        "UNION distinct",
        ("setop",),
    ),
    "setop_intersect": QuerySpec(
        relational.setop_intersect,
        """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        """,
        "INTERSECT",
        ("setop",),
    ),
    "setop_except": QuerySpec(
        relational.setop_except,
        """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        """,
        "EXCEPT",
        ("setop",),
    ),
    "setop_union_all_bag": QuerySpec(
        relational.setop_union_all_bag,
        """
        SELECT nationkey, COUNT(*) AS n_rows FROM (
          SELECT c_nationkey AS nationkey FROM customer
          UNION ALL
          SELECT s_nationkey FROM supplier
        ) GROUP BY nationkey
        """,
        "UNION ALL bag semantics + multiplicity count",
        ("setop",),
    ),
    "setop_intersect_all_bag": QuerySpec(
        relational.setop_intersect_all_bag,
        """
        SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 45
        INTERSECT ALL
        SELECT l_partkey FROM lineitem WHERE l_discount >= 0.08
        """,
        "INTERSECT ALL (per-duplicate bag intersection)",
        ("setop",),
    ),
    "udtf_bigrams": QuerySpec(
        text.bigrams_udtf_query,
        text.BIGRAMS_UDTF_ORACLE,
        "Python UDTF via SQL LATERAL (the reference's 1→N Mapper contract)",
        ("udf", "lateral"),
    ),
    "maintenance_compaction": QuerySpec(
        roundtrip.maintenance_compaction,
        roundtrip.COMPACTION_ORACLE,
        "small-file compaction rewrite (64 → 4 files), value-preserving",
        ("source", "maintenance"),
    ),
    "schema_evolution_read": QuerySpec(
        roundtrip.schema_evolution_read,
        roundtrip.SCHEMA_EVOLUTION_ORACLE,
        "mergeSchema read over batches with additive schema change",
        ("source", "maintenance"),
    ),
    "join_hint_sort_merge": QuerySpec(
        relational.join_hint_sort_merge,
        """
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """,
        "forced shuffle sort-merge join via hint (strategy control)",
        ("join",),
    ),
    "layout_range_sorted_scan": QuerySpec(
        roundtrip.layout_range_sorted_scan,
        roundtrip.RANGE_SORTED_ORACLE,
        "range-partitioned sorted write layout → row-group-skipping scan",
        ("source", "pruning"),
    ),
    "udaf_weighted_avg": QuerySpec(
        udafs.udaf_weighted_avg,
        udafs.UDAF_WEIGHTED_AVG_ORACLE,
        "grouped-agg Pandas UDAF beside a built-in aggregate",
        ("udf", "agg"),
    ),
    "cross_join_region_nation": QuerySpec(
        relational.cross_join_region_nation,
        """
        SELECT r_name, n_name, n_regionkey = r_regionkey AS is_member
        FROM region CROSS JOIN nation
        """,
        "explicit CROSS JOIN of broadcast dims",
        ("join",),
    ),
    "lateral_posexplode_words": QuerySpec(
        relational.lateral_posexplode_words,
        """
        SELECT p_partkey, i AS pos, string_split(p_name, ' ')[i + 1] AS word
        FROM part CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)
        WHERE i < len(string_split(p_name, ' '))
        """,
        "posexplode: lateral expansion with ordinality",
        ("lateral",),
    ),
    "setop_except_all_bag": QuerySpec(
        relational.setop_except_all_bag,
        """
        SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 45
        EXCEPT ALL
        SELECT l_partkey FROM lineitem WHERE l_discount >= 0.08
        """,
        "EXCEPT ALL (per-duplicate bag difference)",
        ("setop",),
    ),
    "unpivot_part_measures": QuerySpec(
        relational.unpivot_part_measures,
        """
        SELECT p_partkey, metric, value FROM (
          SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
          FROM part
          UNION ALL
          SELECT p_partkey, 'retailprice', ROUND(p_retailprice, 2) FROM part
        )
        """,
        "UNPIVOT / melt to long form",
        ("setop", "scalar"),
    ),
    # -- subqueries -----------------------------------------------------------
    "orders_above_customer_avg": QuerySpec(
        relational.orders_above_customer_avg,
        """
        SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 2) AS price
        FROM orders o JOIN (
          SELECT o_custkey, AVG(o_totalprice) AS avg_price
          FROM orders GROUP BY o_custkey
        ) a ON o.o_custkey = a.o_custkey
        WHERE o.o_totalprice > a.avg_price
        """,
        "correlated-subquery pattern, decorrelated",
        ("subquery",),
    ),
    "scalar_subquery_global_avg": QuerySpec(
        relational.scalar_subquery_global_avg,
        """
        SELECT p_partkey, ROUND(p_retailprice, 2) AS price
        FROM part
        WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
        """,
        "scalar subquery",
        ("subquery",),
    ),
    # -- scalar batteries -------------------------------------------------------
    "scalar_string_battery": QuerySpec(
        relational.scalar_string_battery,
        """
        SELECT p_partkey,
               upper(p_name) AS up, lower(p_brand) AS lo,
               length(p_name) AS len,
               substr(p_name, 1, 5) AS sub5,
               concat_ws('-', p_brand, p_type) AS brand_type,
               replace(p_name, ' ', '_') AS snake,
               split_part(p_type, ' ', 1) AS type_head,
               lpad(p_brand, 12, '*') AS padded,
               reverse(p_brand) AS rev,
               strpos(p_name, 'a') AS pos_a,
               p_name LIKE '%steel%' AS has_steel
        FROM part
        """,
        "string function battery",
        ("scalar",),
    ),
    "scalar_date_battery": QuerySpec(
        relational.scalar_date_battery,
        """
        SELECT o_orderkey,
               year(o_orderdate) AS yr, month(o_orderdate) AS mo,
               day(o_orderdate) AS dom, quarter(o_orderdate) AS qtr,
               isodow(o_orderdate) - 1 AS wd_mon0,
               date_trunc('month', o_orderdate) AS month_start,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(o_orderdate AS DATE) + 30 AS plus30,
               DATE '1998-12-31' - CAST(o_orderdate AS DATE) AS days_to_eoy
        FROM orders
        """,
        "date/time function battery",
        ("scalar",),
    ),
    "scalar_math_battery": QuerySpec(
        relational.scalar_math_battery,
        """
        SELECT l_orderkey,
               ROUND(sqrt(l_quantity), 6) AS sqrt_qty,
               ROUND(ln(l_extendedprice), 6) AS ln_price,
               ROUND(exp(l_discount), 6) AS exp_disc,
               ROUND(pow(l_quantity, 2), 6) AS qty_sq,
               ROUND(abs(l_discount - 0.05), 4) AS disc_dev,
               l_partkey % 7 AS pk_mod7,
               CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
               CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
               CAST(sign(l_quantity - 25) AS INT) AS qty_sign,
               greatest(l_discount, l_tax) AS max_rate,
               least(l_discount, l_tax) AS min_rate
        FROM lineitem WHERE l_linenumber = 1
        """,
        "math function battery",
        ("scalar",),
    ),
    "null_semantics_battery": QuerySpec(
        relational.null_semantics_battery,
        """
        WITH d AS (
          SELECT o_orderstatus,
                 CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END AS v,
                 CASE WHEN o_orderkey % 7 <> 0
                      THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) END AS cents,
                 o_orderpriority
          FROM orders
        )
        SELECT o_orderstatus,
               COUNT(*) AS n_rows,
               COUNT(v) AS n_vals,
               COUNT(*) FILTER (WHERE v IS NULL) AS n_nulls,
               COUNT(*) FILTER (WHERE v IS NOT DISTINCT FROM NULL) AS nullsafe_nulls,
               COUNT(DISTINCT v) AS distinct_v,
               SUM(COALESCE(cents, 0)) / 100.0 AS sum_v,
               COUNT(*) FILTER (WHERE NULLIF(o_orderpriority, '1-URGENT') IS NULL)
                 AS urgent_n
        FROM d GROUP BY o_orderstatus
        """,
        "null semantics: 3VL counts, null-safe eq, coalesce/nullif",
        ("scalar",),
    ),
    "case_when_bucketing": QuerySpec(
        relational.case_when_bucketing,
        """
        SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 3000 THEN 'low'
                    WHEN c_acctbal < 7000 THEN 'mid'
                    ELSE 'high' END AS bal_bucket,
               COUNT(*) AS n,
               ROUND(AVG(c_acctbal), 4) AS avg_bal,
               COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS n_building
        FROM customer GROUP BY 1
        """,
        "CASE WHEN buckets + conditional agg",
        ("scalar",),
    ),
    "json_extract_events": QuerySpec(
        relational.json_extract_events,
        """
        SELECT event_type,
               ROUND(AVG(k), 4) AS avg_k, MAX(k) AS max_k, COUNT(*) AS n
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INT) AS k
              FROM events)
        GROUP BY event_type
        """,
        "JSON extraction",
        ("scalar",),
    ),
    "explode_doc_words": QuerySpec(
        relational.explode_doc_words,
        """
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word != ''
        GROUP BY word ORDER BY cnt DESC, word LIMIT 20
        """,
        "lateral explode word count",
        ("scalar",),
    ),
    "array_ops_embeddings": QuerySpec(
        relational.array_ops_embeddings,
        f"""
        SELECT vec_id, len(embedding) AS dim,
               ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
               ROUND(list_sum(list_transform(embedding[1:8],
                     x -> CAST(x AS DOUBLE))), 6) AS head8_sum,
               label
        FROM embeddings
        """,
        "array function coverage",
        ("scalar", "vector"),
    ),
    # -- sessionization / time windows ---------------------------------------
    "session_stats": QuerySpec(
        asof.session_stats,
        f"""
        WITH {_SESSION_CTES}
        SELECT user_id, COUNT(*) AS n_sessions,
               MAX(n_events) AS max_session_events,
               ROUND(AVG(span_sec), 4) AS avg_span_sec
        FROM per GROUP BY user_id
        """,
        "gap-based sessionization (lag + running sum)",
        ("window", "events"),
    ),
    "batch_tumbling_hourly": QuerySpec(
        stream_windows.batch_tumbling_hourly,
        _TUMBLING_SQL,
        "tumbling window agg (batch)",
        ("events",),
    ),
    "streaming_tumbling_hourly": QuerySpec(
        stream_windows.streaming_tumbling_hourly,
        _TUMBLING_SQL,
        "tumbling window agg via Structured Streaming AvailableNow",
        ("events", "streaming"),
    ),
    "streaming_tumbling_append": QuerySpec(
        stream_windows.streaming_tumbling_append,
        _TUMBLING_APPEND_SQL,
        "APPEND-mode watermarked window agg — only finalized windows "
        "emit, once, into an idempotent epoch-partitioned sink",
        ("events", "streaming"),
    ),
    "streaming_window_distinct": QuerySpec(
        stream_windows.streaming_window_distinct,
        # exact keys/counts + literal-TRUE envelope verdict (the
        # sketch_rollup_orders audit pattern lifted to streaming
        # state): the stream maintains per-window HLL++ sketches —
        # exact COUNT(DISTINCT) is unsupported in streaming aggs —
        # and the estimate is enveloped against the batch-exact count
        """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_distinct_users,
               TRUE AS distinct_within_bound
        FROM events GROUP BY 1, 2
        """,
        "streaming windowed distinct users via per-window HLL++ "
        "state, envelope-audited against the batch-exact counts",
        ("events", "streaming", "sketch"),
    ),
    "streaming_neardup_ingest": QuerySpec(
        stream_ingest.streaming_neardup_ingest,
        _NEARDUP_INGEST_SQL,
        "streaming incremental near-dup dedup: narrow per-row MinHash "
        "bands, broadcast anti-joins vs the snapshot band sets, "
        "watermarked append-mode windowed collapse",
        ("documents", "streaming", "dedup"),
    ),
    "streaming_dedup_keys": QuerySpec(
        stream_stateful.streaming_dedup_keys,
        "SELECT DISTINCT user_id, event_type FROM events",
        "streaming dedup with watermark-bounded state",
        ("events", "streaming", "dedup"),
    ),
    "streaming_user_stats_stateful": QuerySpec(
        stream_stateful.streaming_user_stats_stateful,
        """
        SELECT user_id, COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY user_id
        """,
        "custom stateful operator via applyInPandasWithState",
        ("events", "streaming", "custom"),
    ),
    # Emitted = sessions CLOSED before stream end: every non-final
    # session of a user (its next event is > gap later, so the gap
    # fold closes it when that event's batch arrives), plus the final
    # session iff the final watermark (ms-floored max ts − 1 h)
    # STRICTLY passed its timeout (end + gap, ms-floored) — the strict
    # < is Spark's pinned event-time-timeout boundary
    # (test_session_timeout_boundary).
    "streaming_session_timeout": QuerySpec(
        stream_stateful.streaming_session_timeout,
        f"""
        WITH {_SESSION_CTES},
        per2 AS (
          SELECT user_id, session_id,
                 MIN(ts) AS session_start, MAX(ts) AS session_end,
                 COUNT(*) AS n_events,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY session_id DESC) AS rdesc
          FROM sess GROUP BY user_id, session_id
        ),
        wm AS (
          SELECT epoch_us(MAX(ts)) // 1000 - 3600000 AS wm_ms FROM events
        )
        SELECT user_id, session_start, session_end, n_events
        FROM per2, wm
        WHERE rdesc > 1
           OR (epoch_us(session_end) + {stream_stateful.SESSION_GAP_US})
                // 1000 < wm_ms
        """,
        "session-gap eviction via applyInPandasWithState EVENT-TIME "
        "timeout over a multi-micro-batch span stream — emits exactly "
        "the sessions closed (by gap or watermark timeout) before the "
        "stream ended",
        ("events", "streaming", "custom", "window"),
    ),
    # -- source connectors ---------------------------------------------------
    "source_csv_roundtrip": QuerySpec(
        roundtrip.source_csv_roundtrip,
        roundtrip.CSV_ROUNDTRIP_ORACLE,
        "orders → CSV → explicit-schema read → aggregate (value-exact)",
        ("source",),
    ),
    "source_json_roundtrip": QuerySpec(
        roundtrip.source_json_roundtrip,
        roundtrip.JSON_ROUNDTRIP_ORACLE,
        "events → JSON-lines → explicit-schema read → aggregate",
        ("source",),
    ),
    "source_orc_roundtrip": QuerySpec(
        roundtrip.source_orc_roundtrip,
        roundtrip.ORC_ROUNDTRIP_ORACLE,
        "lineitem → ORC → read back → aggregate (columnar peer of parquet)",
        ("source",),
    ),
    "source_xml_roundtrip": QuerySpec(
        roundtrip.source_xml_roundtrip,
        roundtrip.XML_ROUNDTRIP_ORACLE,
        "nation+region → XML (Spark 4 native source) → explicit-schema "
        "read → per-region rollup",
        ("source",),
    ),
    "source_partitioned_roundtrip": QuerySpec(
        roundtrip.source_partitioned_roundtrip,
        roundtrip.PARTITIONED_ROUNDTRIP_ORACLE,
        "hive-partitioned parquet write → partition-pruned read → aggregate",
        ("source", "pruning"),
    ),
    "dpp_partitioned_fact_join": QuerySpec(
        roundtrip.dpp_partitioned_fact_join,
        roundtrip.DPP_ORACLE,
        "dynamic partition pruning: filtered dim prunes the partitioned fact scan",
        ("source", "pruning", "join"),
    ),
    "bloom_runtime_join": QuerySpec(
        roundtrip.bloom_runtime_join,
        roundtrip.BLOOM_RUNTIME_JOIN_ORACLE,
        "runtime row-level Bloom-filter pruning: filtered dim's keys "
        "probe the fact rows before the join shuffle (the shuffle-join "
        "complement of DPP)",
        ("pruning", "join"),
    ),
    "batch_sliding_windows": QuerySpec(
        stream_windows.batch_sliding,
        """
        SELECT time_bucket(INTERVAL '30 minutes', ts)
                 - o.o * INTERVAL '30 minutes' AS window_start,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events CROSS JOIN (VALUES (0), (1)) o(o)
        GROUP BY 1
        """,
        "sliding window agg (1h / 30m slide)",
        ("events",),
    ),
    "multires_rollup_daily": QuerySpec(
        stream_windows.batch_multires_rollup,
        """
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS hour, event_type,
                 COUNT(*) AS n, SUM(value) AS sv
          FROM events GROUP BY 1, 2
        )
        SELECT date_trunc('day', hour) AS day, event_type,
               CAST(SUM(n) AS BIGINT) AS n, ROUND(SUM(sv), 2) AS total_value,
               COUNT(*) AS n_hours,
               ROUND(ROUND(SUM(sv), 2) / SUM(n), 6) AS avg_value
        FROM hourly GROUP BY 1, 2
        """,
        "hypertable-style daily rollup from hourly partials",
        ("events", "agg"),
    ),
    "streaming_sliding_windows": QuerySpec(
        stream_windows.streaming_sliding,
        """
        SELECT time_bucket(INTERVAL '30 minutes', ts)
                 - o.o * INTERVAL '30 minutes' AS window_start,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events CROSS JOIN (VALUES (0), (1)) o(o)
        GROUP BY 1
        """,
        "sliding window agg via Structured Streaming AvailableNow",
        ("events", "streaming"),
    ),
    "streaming_enriched_segments": QuerySpec(
        stream_windows.streaming_enriched_segments,
        """
        SELECT c_mktsegment, event_type, COUNT(*) AS n,
               ROUND(SUM(value), 2) AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment, event_type
        """,
        "stream-static join: event stream enriched by customer dim",
        ("events", "streaming", "join"),
    ),
    "skew_salted_events_join": QuerySpec(
        skew.skew_salted_events_join,
        """
        SELECT c_mktsegment, COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(SUM(value), 2) AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
        """,
        "salted hot-key join — result identical to the plain join",
        ("events", "join", "skew"),
    ),
    "session_windows_native": QuerySpec(
        stream_windows.batch_session_windows,
        f"""
        WITH {_SESSION_CTES_GE}
        SELECT user_id, COUNT(*) AS n_sessions,
               MAX(n_events) AS max_session_events
        FROM per GROUP BY user_id
        """,
        "native session_window aggregation",
        ("events",),
    ),
    "streaming_session_windows": QuerySpec(
        stream_windows.streaming_session_windows,
        f"""
        WITH {_SESSION_CTES_GE}
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_id
        """,
        "session windows through Structured Streaming (AvailableNow)",
        ("events", "streaming"),
    ),
    "map_ops_events": QuerySpec(
        relational.map_ops_events,
        """
        SELECT event_id,
               len(json_keys(props::JSON)) AS n_keys,
               array_to_string(json_keys(props::JSON), ',') AS keys_csv,
               CAST(props::JSON->>'k' AS INTEGER) AS k_val,
               2 * CAST(props::JSON->>'k' AS INTEGER) AS k_doubled,
               CASE WHEN CAST(props::JSON->>'k' AS INTEGER) > 50
                    THEN 1 ELSE 0 END AS n_big,
               length(event_type) AS type_len
        FROM events
        """,
        "MapType battery: from_json map, keys/element_at/transform_values/"
        "map_filter/map_concat",
        ("scalar", "map"),
    ),
    # -- text analysis ----------------------------------------------------------
    "text_stats": QuerySpec(
        text.text_stats,
        f"""
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '')) AS n_tokens_ws,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS n_tokens_bpe,
               n_words,
               ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars2, 1), 6) AS punct_ratio,
               ROUND(CAST(n_upper AS DOUBLE) / greatest(n_chars2, 1), 6) AS upper_ratio,
               ROUND(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6) AS stopword_ratio,
               {_GUESS} AS lang_guess,
               md5({_NORM}) AS fp_md5,
               CAST(('0x' || substr(md5({_NORM}), 1, 15)) AS BIGINT) AS fp_int64
        FROM (
          SELECT *,
                 len({_WORDS}) AS n_words,
                 length(text) AS n_chars2,
                 length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
                 length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
                 len(list_filter({_WORDS}, w -> list_contains({_STOPLIST}, lower(w)))) AS n_stop,
                 {_LANG_SCORES}
          FROM documents
        )
        """,
        "per-document text analysis (tokens, quality, lang-ID, fingerprint)",
        ("text",),
    ),
    "tfidf_terms": QuerySpec(
        text.tfidf_terms,
        f"""
        WITH w AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
          FROM documents
        ),
        tf AS (SELECT doc_id, word, COUNT(*) AS tf
               FROM w WHERE word != '' GROUP BY 1, 2),
        dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, word, tf, df,
               ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN dfreq USING (word) CROSS JOIN n
        """,
        "per-(doc, word) TF-IDF (smoothed IDF)",
        ("text",),
    ),
    "lang_distribution": QuerySpec(
        text.lang_distribution,
        f"""
        SELECT lang, {_GUESS} AS lang_guess, COUNT(*) AS n
        FROM (SELECT lang, {_LANG_SCORES} FROM documents)
        GROUP BY 1, 2
        """,
        "language-ID heuristic vs labels",
        ("text",),
    ),
    # -- training-data pipeline ------------------------------------------------
    "docs_quality_filter": QuerySpec(
        pipeline.docs_quality_filter,
        f"""
        SELECT doc_id, n_words, stopword_ratio, punct_ratio,
               (n_words >= 15 AND stopword_ratio <= 0.6
                AND punct_ratio <= 0.2) AS keep
        FROM (
          SELECT doc_id, n_words,
                 ROUND(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6) AS stopword_ratio,
                 ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio
          FROM (
            SELECT doc_id,
                   len({_WORDS}) AS n_words,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
                   len(list_filter({_WORDS}, w -> list_contains({_STOPLIST}, lower(w)))) AS n_stop
            FROM documents
          )
        )
        """,
        "Gopher-style quality gate (word count + ratio envelopes)",
        ("text", "pipeline"),
    ),
    "docs_repetition": QuerySpec(
        pipeline.docs_repetition,
        f"""
        SELECT doc_id, len(g) AS n_3grams,
               len(list_distinct(g)) AS n_distinct_3grams,
               CASE WHEN len(g) > 0
                    THEN ROUND(1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE), 6)
                    ELSE 0.0 END AS repetition_ratio
        FROM (
          SELECT doc_id,
                 [array_to_string(words[i:i+2], ' ')
                  FOR i IN range(1, len(words) - 1)] AS g
          FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents)
        )
        """,
        "within-doc duplicate-3-gram repetition ratio",
        ("text", "pipeline",),
    ),
    "docs_sample_10pct": QuerySpec(
        pipeline.docs_sample_10pct,
        """
        SELECT doc_id, lang FROM documents
        WHERE CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 < 10
        """,
        "deterministic content-hash 10% sample (stable train/eval split)",
        ("pipeline",),
    ),
    "docs_stratified_sample": QuerySpec(
        pipeline.docs_stratified_sample,
        """
        SELECT lang, COUNT(*) AS n_docs,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM documents
        WHERE CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100
              < CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 80 ELSE 100 END
        GROUP BY lang
        """,
        "stratified per-language sampling (corpus mixture rebalancing)",
        ("pipeline",),
    ),
    "docs_pack_sequences": QuerySpec(
        pipeline.docs_pack_sequences,
        f"""
        SELECT doc_id, n_tokens, shard_id,
               CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin_id
        FROM (
          SELECT doc_id, n_tokens, shard_id,
                 SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM (SELECT doc_id, len({_WORDS}) AS n_tokens,
                       CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) % 16 AS shard_id
                FROM documents)
        )
        """,
        "greedy per-shard sequence packing into 512-token bins",
        ("pipeline",),
    ),
    "docs_contamination": QuerySpec(
        pipeline.docs_contamination,
        f"""
        WITH sh AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) % 100 AS b,
                 unnest(list_distinct(
                   [array_to_string(words[i:i+4], ' ')
                    FOR i IN range(1, len(words) - 3)])) AS shingle
          FROM (SELECT doc_id, {_WORDS_LC} AS words FROM documents)
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE b < 5)
        SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared_shingles
        FROM sh s JOIN bench USING (shingle)
        WHERE s.b >= 5
        GROUP BY s.doc_id
        """,
        "benchmark decontamination: 5-gram overlap vs held-out set",
        ("pipeline", "dedup"),
    ),
    "dedup_incremental_ingest": QuerySpec(
        pipeline.dedup_incremental_ingest,
        f"""
        WITH keyed AS (SELECT doc_id, md5({_NORM}) AS content_key FROM documents),
        ex AS (SELECT content_key FROM keyed WHERE doc_id % 10 < 3)
        SELECT MIN(k.doc_id) AS doc_id, k.content_key
        FROM keyed k
        WHERE k.doc_id % 10 >= 3
          AND NOT EXISTS (SELECT 1 FROM ex
                          WHERE ex.content_key = k.content_key)
        GROUP BY k.content_key
        """,
        "incremental-ingest dedup vs corpus snapshot (anti-join on content key)",
        ("pipeline", "dedup"),
    ),
    "vocab_top50": QuerySpec(
        pipeline.vocab_top50,
        f"""
        SELECT rank, word, tf, df FROM (
          SELECT word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df,
                 ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word ASC) AS rank
          FROM (SELECT doc_id, unnest({_WORDS_LC}) AS word FROM documents)
          GROUP BY word
        ) WHERE rank <= 50
        """,
        "top-50 vocabulary with term and document frequencies",
        ("pipeline", "text"),
    ),
    "vocab_bpe_pairs": QuerySpec(
        text.vocab_bpe_pairs,
        # first BPE merge step: adjacent char-pair counts weighted by
        # word frequency, over DISTINCT words (vocab-scale, not corpus)
        f"""
        WITH w2 AS (
          SELECT word
          FROM (SELECT unnest(string_split({_NORM}, ' ')) AS word
                FROM documents)
          WHERE word != ''
        ),
        vocab AS (SELECT word, COUNT(*) AS wc FROM w2 GROUP BY 1),
        pairs AS (
          SELECT wc,
                 substr(word, CAST(i.r AS INT), 1) || ' '
                   || substr(word, CAST(i.r + 1 AS INT), 1) AS pair
          FROM vocab, LATERAL unnest(range(1, len(word))) i(r)
          WHERE len(word) >= 2
        ),
        counts AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
                   FROM pairs GROUP BY 1)
        SELECT merge_rank, pair, n FROM (
          SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC)
                      AS merge_rank
          FROM counts
        ) WHERE merge_rank <= 20
        """,
        "top-20 BPE merge candidates: corpus-weighted adjacent "
        "character-pair counts (tokenizer-training step one)",
        ("pipeline", "text"),
    ),
    "docs_token_chunks": QuerySpec(
        pipeline.docs_token_chunks,
        f"""
        WITH c AS (
          SELECT doc_id, words, len(words) AS n,
                 CASE WHEN len(words) <= 16 THEN 1
                      ELSE CAST(ceil((len(words) - 16) / 12.0) AS INT) + 1
                 END AS n_chunks
          FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
        )
        SELECT doc_id, CAST(i.r AS INT) AS chunk_idx,
               len(words[CAST(i.r * 12 + 1 AS INT):CAST(i.r * 12 + 16 AS INT)])
                 AS n_tokens,
               words[CAST(i.r * 12 + 1 AS INT)] AS first_token,
               words[CAST(least(i.r * 12 + 16, n) AS INT)] AS last_token
        FROM c, LATERAL unnest(range(0, n_chunks)) i(r)
        """,
        "overlapping 16-token / stride-12 context chunks per document",
        ("pipeline", "text"),
    ),
    "docs_unigram_logprob": QuerySpec(
        pipeline.docs_unigram_logprob,
        # terms rounded to 9 BEFORE the word-sorted sequential fold —
        # the dot-product summation-order-proofing applied to ln terms
        f"""
        WITH w AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
          FROM documents
        ),
        w2 AS (SELECT * FROM w WHERE word != ''),
        tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w2 GROUP BY 1, 2),
        c AS (SELECT word, COUNT(*) AS c FROM w2 GROUP BY 1),
        n AS (SELECT COUNT(*) AS nt FROM w2),
        t AS (
          SELECT doc_id, word, tf, ROUND(tf * ln(c / nt), 9) AS term
          FROM tf JOIN c USING (word) CROSS JOIN n
        )
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               ROUND(list_sum(list(term ORDER BY word)) / SUM(tf), 6)
                 AS avg_logprob
        FROM t GROUP BY doc_id
        """,
        "per-doc average unigram log-prob under the corpus model "
        "(perplexity-filter signal)",
        ("pipeline", "text"),
    ),
    "docs_mixture_weights": QuerySpec(
        pipeline.docs_mixture_weights,
        """
        WITH per AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS n_chars
          FROM documents GROUP BY 1
        ),
        nums AS (SELECT *, ROUND(POW(n_docs, 0.3), 9) AS w_raw FROM per),
        z AS (SELECT list_sum(list(w_raw ORDER BY source)) AS z FROM nums)
        SELECT source, n_docs, n_chars,
               ROUND(w_raw / z, 6) AS mix_weight
        FROM nums CROSS JOIN z
        """,
        "temperature (alpha=0.3) multinomial mixture weights per source",
        ("pipeline",),
    ),
    "docs_source_drift": QuerySpec(
        pipeline.docs_source_drift,
        # terms rounded to 9 BEFORE the word-sorted fold — the
        # unigram-logprob determinism recipe applied to p*ln(p/q)
        f"""
        WITH w AS (
          SELECT source, unnest(string_split({_NORM}, ' ')) AS word
          FROM documents
        ),
        w2 AS (SELECT * FROM w WHERE word != ''),
        sw AS (SELECT source, word, COUNT(*) AS tf FROM w2 GROUP BY 1, 2),
        c AS (SELECT word, COUNT(*) AS c FROM w2 GROUP BY 1),
        ns AS (SELECT source, COUNT(*) AS ns FROM w2 GROUP BY 1),
        n AS (SELECT COUNT(*) AS nt FROM w2),
        t AS (
          SELECT sw.source, sw.word, ns.ns,
                 ROUND((tf / ns) * ln((tf / ns) / (c / nt)), 9) AS term
          FROM sw JOIN c USING (word) JOIN ns USING (source) CROSS JOIN n
        )
        SELECT source,
               CAST(MIN(ns) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_vocab,
               ROUND(list_sum(list(term ORDER BY word)), 6) AS kl_vs_corpus
        FROM t GROUP BY source
        """,
        "per-source unigram KL(source||corpus) distribution-drift "
        "audit (mixture-shift signal)",
        ("pipeline", "text"),
    ),
    "docs_pareto_frontier": QuerySpec(
        pipeline.docs_pareto_frontier,
        # the frontier is a well-defined set, so the oracle can use the
        # direct NOT EXISTS dominance definition (quadratic is fine for
        # the oracle; the engine runs local-prune + per-group exact)
        f"""
        WITH f AS (
          SELECT lang, doc_id, n_chars,
                 len(list_distinct(string_split({_NORM}, ' ')))
                   AS n_distinct_words
          FROM documents
        )
        SELECT p.lang, p.doc_id, p.n_chars, p.n_distinct_words
        FROM f p
        WHERE NOT EXISTS (
          SELECT 1 FROM f o
          WHERE o.lang = p.lang
            AND ((o.n_chars >= p.n_chars
                  AND o.n_distinct_words > p.n_distinct_words)
              OR (o.n_chars > p.n_chars
                  AND o.n_distinct_words >= p.n_distinct_words))
        )
        """,
        "per-language Pareto frontier (skyline) over document length "
        "vs distinct-word richness — multi-objective curation",
        ("pipeline", "custom"),
    ),
    "docs_entropy": QuerySpec(
        pipeline.docs_entropy,
        # -(p ln p) terms rounded to 9 before the word-sorted fold;
        # final negation written 0.0 - sum so zero-entropy docs can't
        # split on -0.0 vs 0.0 between engines
        f"""
        WITH w AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
          FROM documents
        ),
        w2 AS (SELECT * FROM w WHERE word != ''),
        tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w2 GROUP BY 1, 2),
        n AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n FROM tf GROUP BY 1),
        t AS (
          SELECT tf.doc_id, tf.word, n.n,
                 ROUND((tf / n) * ln(tf / n), 9) AS term
          FROM tf JOIN n USING (doc_id)
        )
        SELECT doc_id,
               CAST(MIN(n) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_types,
               ROUND(0.0 - list_sum(list(term ORDER BY word)), 6) AS entropy
        FROM t GROUP BY doc_id
        """,
        "per-doc unigram entropy (nats) + type count — lexical "
        "diversity / boilerplate signal",
        ("pipeline", "text"),
    ),
    "docs_adaptive_quality": QuerySpec(
        pipeline.docs_adaptive_quality,
        # the unigram-logprob chain + per-language p10 (quantile_cont
        # matches Spark's exact interpolated percentile — the
        # percentile_battery precedent)
        f"""
        WITH w AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
          FROM documents
        ),
        w2 AS (SELECT * FROM w WHERE word != ''),
        tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w2 GROUP BY 1, 2),
        c AS (SELECT word, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
        n AS (SELECT CAST(SUM(tf) AS BIGINT) AS nt FROM tf),
        t AS (
          SELECT doc_id, word, tf, ROUND(tf * ln(c / nt), 9) AS term
          FROM tf JOIN c USING (word) CROSS JOIN n
        ),
        lp AS (
          SELECT t.doc_id,
                 ROUND(list_sum(list(term ORDER BY word)) / SUM(tf), 6)
                   AS avg_logprob
          FROM t GROUP BY t.doc_id
        ),
        jl AS (
          SELECT lp.doc_id, d.lang, lp.avg_logprob
          FROM lp JOIN documents d USING (doc_id)
        ),
        stats AS (
          SELECT lang, ROUND(quantile_cont(avg_logprob, 0.1), 6) AS lang_p10
          FROM jl GROUP BY lang
        )
        SELECT jl.doc_id, jl.lang, jl.avg_logprob, stats.lang_p10,
               jl.avg_logprob >= stats.lang_p10 AS keep
        FROM jl JOIN stats USING (lang)
        """,
        "per-language adaptive quality gate: keep docs above their "
        "own language's p10 unigram logprob (CCNet-style cutoffs)",
        ("pipeline", "text"),
    ),
    "docs_dsir_scores": QuerySpec(
        pipeline.docs_dsir_scores,
        f"""
        WITH w AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
          FROM documents
        ),
        w2 AS (SELECT * FROM w WHERE word != ''),
        tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w2 GROUP BY 1, 2),
        c AS (SELECT word, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
        nv AS (SELECT COUNT(*) AS v, CAST(SUM(c) AS BIGINT) AS n FROM c),
        tt AS (
          SELECT word, CAST(SUM(tf) AS BIGINT) AS tc
          FROM tf
          WHERE CAST(('0x' || substr(md5('{pipeline.DSIR_SALT}'
                        || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 100 < {pipeline.DSIR_TARGET_PERCENT}
          GROUP BY 1
        ),
        tn AS (
          SELECT CAST(COALESCE(SUM(tc), 0) AS BIGINT) AS tn FROM tt
        ),
        t AS (
          SELECT tf.doc_id, tf.word, tf.tf,
                 ROUND(tf * (ln((COALESCE(tt.tc, 0) + 1) / (tn.tn + nv.v))
                             - ln(c.c / nv.n)), 9) AS term
          FROM tf JOIN c USING (word) LEFT JOIN tt USING (word)
          CROSS JOIN nv CROSS JOIN tn
        ),
        g AS (
          SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                 ROUND(list_sum(list(term ORDER BY word)) / SUM(tf), 6)
                   AS dsir_score
          FROM t GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               CAST(('0x' || substr(md5('{pipeline.DSIR_SALT}'
                        || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 < {pipeline.DSIR_TARGET_PERCENT} AS in_target,
               dsir_score
        FROM g
        """,
        "DSIR importance scores: per-doc avg log-likelihood ratio "
        "target model vs corpus model (importance-resampling weight)",
        ("pipeline", "text"),
    ),
    "events_funnel": QuerySpec(
        timeseries.events_funnel,
        """
        WITH s0 AS (
          SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = 'view' GROUP BY 1
        ),
        s1 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s0 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1
        )
        SELECT CAST(0 AS INT) AS step_idx, 'view' AS step,
               (SELECT COUNT(*) FROM s0) AS n_users
        UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
        UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
        """,
        "ordered view->click->purchase funnel on first-completion times",
        ("timeseries", "agg"),
    ),
    "events_transition_matrix": QuerySpec(
        timeseries.events_transition_matrix,
        """
        WITH s AS (
          SELECT user_id, event_type AS next_type,
                 LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS prev_type
          FROM events
        ),
        t AS (
          SELECT prev_type, next_type, COUNT(*) AS n_transitions
          FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ),
        tot AS (
          SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT) AS tot
          FROM t GROUP BY 1
        )
        SELECT t.prev_type, t.next_type, t.n_transitions,
               ROUND(t.n_transitions / tot.tot, 6) AS prob
        FROM t JOIN tot USING (prev_type)
        """,
        "first-order Markov event-type transition matrix (counts + "
        "row-normalized probabilities, (ts, id) total order)",
        ("timeseries", "events", "window"),
    ),
    "events_retention_cohorts": QuerySpec(
        timeseries.events_retention_cohorts,
        """
        WITH firsts AS (
          SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
          FROM events GROUP BY 1
        ),
        active AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS week
          FROM events
        ),
        pairs AS (
          SELECT f.cohort_week,
                 CAST(datediff('day', f.cohort_week, a.week) // 7 AS INTEGER)
                   AS week_offset
          FROM active a JOIN firsts f USING (user_id)
        ),
        counts AS (
          SELECT cohort_week, week_offset, COUNT(*) AS n_users
          FROM pairs GROUP BY 1, 2
        ),
        base AS (
          SELECT cohort_week, COUNT(*) AS cohort_size
          FROM firsts GROUP BY 1
        )
        SELECT c.cohort_week, c.week_offset, c.n_users,
               ROUND(c.n_users / b.cohort_size, 6) AS retention
        FROM counts c JOIN base b USING (cohort_week)
        """,
        "weekly retention triangle: first-seen-week cohorts x active "
        "week offset with per-cohort retention rate",
        ("timeseries", "events", "agg"),
    ),
    "events_volume_anomalies": QuerySpec(
        timeseries.events_volume_anomalies,
        # moments from integer sums (population variance), every
        # derived float rounded; single-day types emit z = 0.0
        """
        WITH daily AS (
          SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ),
        stats AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(n) AS BIGINT) AS s1,
                 CAST(SUM(n * n) AS BIGINT) AS s2
          FROM daily GROUP BY 1
        ),
        j AS (
          SELECT d.event_type, d.day, d.n,
                 ROUND(s1 / n_days, 6) AS mean_n,
                 ROUND(sqrt(greatest(
                   s2 / n_days - (s1 / n_days) * (s1 / n_days), 0.0)), 6)
                   AS stddev_n
          FROM daily d JOIN stats USING (event_type)
        )
        SELECT event_type, day, n, mean_n, stddev_n,
               CASE WHEN stddev_n > 0.0
                    THEN ROUND((n - mean_n) / stddev_n, 6)
                    ELSE 0.0 END AS zscore,
               abs(CASE WHEN stddev_n > 0.0
                        THEN ROUND((n - mean_n) / stddev_n, 6)
                        ELSE 0.0 END) > 2.0 AS is_anomaly
        FROM j
        """,
        "per-type daily event-volume z-scores vs the type's own "
        "distribution (pipeline-monitoring anomaly signal)",
        ("timeseries", "events", "agg"),
    ),
    "events_forecast_backtest": QuerySpec(
        timeseries.events_forecast_backtest,
        # dense hourly grid (missing hours are true zeros), seasonal
        # lag(24) vs naive lag(1) on the same forecastable subset;
        # MAE/RMSE from exact integer sums, MAPE over nonzero actuals
        """
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hour,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly),
        spine AS (
          SELECT b.h0 + i.range * INTERVAL 1 HOUR AS hour
          FROM bounds b, range(0, 100000) i
          WHERE b.h0 + i.range * INTERVAL 1 HOUR <= b.h1
        ),
        types AS (SELECT DISTINCT event_type FROM hourly),
        dense AS (
          SELECT t.event_type, s.hour, CAST(COALESCE(h.n, 0) AS BIGINT) AS n
          FROM spine s CROSS JOIN types t
          LEFT JOIN hourly h
            ON h.event_type = t.event_type AND h.hour = s.hour
        ),
        scored AS (
          SELECT event_type, n,
                 LAG(n, 24) OVER (PARTITION BY event_type ORDER BY hour)
                   AS f_s,
                 LAG(n, 1) OVER (PARTITION BY event_type ORDER BY hour)
                   AS f_n
          FROM dense
        ),
        agg AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_forecasts,
                 CAST(SUM(ABS(n - f_s)) AS BIGINT) AS sae_s,
                 CAST(SUM(ABS(n - f_s) * ABS(n - f_s)) AS BIGINT) AS sse_s,
                 CAST(SUM(ABS(n - f_n)) AS BIGINT) AS sae_n,
                 SUM(CASE WHEN n > 0
                          THEN ABS(n - f_s) / CAST(n AS DOUBLE) END) AS sape,
                 CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nonzero
          FROM scored WHERE f_s IS NOT NULL GROUP BY 1
        )
        SELECT event_type,
               n_forecasts + 24 AS n_hours,
               n_forecasts,
               ROUND(sae_s / n_forecasts, 6) AS mae_seasonal,
               ROUND(SQRT(sse_s / n_forecasts), 6) AS rmse_seasonal,
               CASE WHEN n_nonzero > 0
                    THEN ROUND(sape / n_nonzero, 6) END AS mape_seasonal,
               ROUND(sae_n / n_forecasts, 6) AS mae_naive,
               CASE WHEN sae_n > 0
                    THEN ROUND((sae_s / n_forecasts)
                               / (sae_n / n_forecasts), 6) END AS skill
        FROM agg ORDER BY event_type
        """,
        "grouped forecast backtest: seasonal-naive (24 h) vs naive "
        "hourly volume forecasts per event type, MAE/RMSE/MAPE + "
        "skill on the dense zero-filled grid",
        ("timeseries", "events", "window", "agg"),
    ),
    "events_acf_hourly": QuerySpec(
        timeseries.events_acf_hourly,
        # integer-moment ACF over the same dense grid: every sum is
        # exact int64, r_l is one fixed-structure double expression
        f"""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hour,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly),
        spine AS (
          SELECT b.h0 + i.range * INTERVAL 1 HOUR AS hour
          FROM bounds b, range(0, 100000) i
          WHERE b.h0 + i.range * INTERVAL 1 HOUR <= b.h1
        ),
        types AS (SELECT DISTINCT event_type FROM hourly),
        dense AS (
          SELECT t.event_type, s.hour, CAST(COALESCE(h.n, 0) AS BIGINT) AS n
          FROM spine s CROSS JOIN types t
          LEFT JOIN hourly h
            ON h.event_type = t.event_type AND h.hour = s.hour
        ),
        lagged AS (
          SELECT event_type, n,
                 {", ".join(
                     f"LAG(n, {lag}) OVER (PARTITION BY event_type "
                     f"ORDER BY hour) AS l{lag}"
                     for lag in timeseries.ACF_LAGS
                 )}
          FROM dense
        ),
        mom AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_hours,
                 CAST(SUM(n) AS BIGINT) AS s1,
                 CAST(SUM(n * n) AS BIGINT) AS s2,
                 {", ".join(
                     f"CAST(SUM(CASE WHEN l{lag} IS NOT NULL "
                     f"THEN n * l{lag} END) AS BIGINT) AS sxy{lag}, "
                     f"CAST(SUM(CASE WHEN l{lag} IS NOT NULL "
                     f"THEN n END) AS BIGINT) AS sx{lag}, "
                     f"CAST(SUM(CASE WHEN l{lag} IS NOT NULL "
                     f"THEN l{lag} END) AS BIGINT) AS sy{lag}, "
                     f"CAST(SUM(CASE WHEN l{lag} IS NOT NULL "
                     f"THEN 1 ELSE 0 END) AS BIGINT) AS np{lag}"
                     for lag in timeseries.ACF_LAGS
                 )}
          FROM lagged GROUP BY 1
        )
        SELECT event_type, lag, acf, n_hours,
               ROUND(CAST(s1 AS DOUBLE) / n_hours, 6) AS mean_n
        FROM mom, LATERAL (VALUES {", ".join(
            f"({lag}, CASE WHEN CAST(s2 AS DOUBLE)"
            f" - n_hours * (CAST(s1 AS DOUBLE) / n_hours)"
            f" * (CAST(s1 AS DOUBLE) / n_hours) > 0 THEN"
            f" ROUND((CAST(sxy{lag} AS DOUBLE)"
            f" - (CAST(s1 AS DOUBLE) / n_hours) * sx{lag}"
            f" - (CAST(s1 AS DOUBLE) / n_hours) * sy{lag}"
            f" + np{lag} * (CAST(s1 AS DOUBLE) / n_hours)"
            f" * (CAST(s1 AS DOUBLE) / n_hours))"
            f" / (CAST(s2 AS DOUBLE)"
            f" - n_hours * (CAST(s1 AS DOUBLE) / n_hours)"
            f" * (CAST(s1 AS DOUBLE) / n_hours)), 6) END)"
            for lag in timeseries.ACF_LAGS
        )}) AS v(lag, acf)
        ORDER BY event_type, lag
        """,
        "hourly-count autocorrelation per event type at lags "
        "1/2/3/24 from exact integer moments (the daily-season "
        "evidence behind the seasonal-naive backtest)",
        ("timeseries", "events", "stats", "agg"),
    ),
    "docs_split": QuerySpec(
        pipeline.docs_split,
        """
        SELECT doc_id,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 100
                       AS b
              FROM documents)
        """,
        "deterministic content-hash 80/10/10 train/val/test split",
        ("pipeline",),
    ),
    "docs_embedding_coverage": QuerySpec(
        pipeline.docs_embedding_coverage,
        """
        SELECT CAST(SUM(CASE WHEN d.doc_id IS NOT NULL
                              AND e.vec_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
               CAST(SUM(CASE WHEN e.vec_id IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
               CAST(SUM(CASE WHEN d.doc_id IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only
        FROM (SELECT DISTINCT doc_id FROM documents) d
        FULL OUTER JOIN (SELECT DISTINCT vec_id FROM embeddings) e
          ON d.doc_id = e.vec_id
        """,
        "documents-embeddings referential-integrity coverage audit "
        "(key-level: both key projections distinct-ed)",
        ("pipeline", "join"),
    ),
    "docs_chunk_dedup": QuerySpec(
        pipeline.docs_chunk_dedup,
        f"""
        WITH c AS (
          SELECT doc_id, words,
                 CAST(ceil(len(words) / 5.0) AS INT) AS n_chunks
          FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
        ),
        e AS (
          SELECT doc_id, CAST(i.r AS INT) AS pos,
                 array_to_string(
                   words[CAST(i.r * 5 + 1 AS INT):CAST(i.r * 5 + 5 AS INT)],
                   ' ') AS chunk_text
          FROM c, LATERAL unnest(range(0, n_chunks)) i(r)
        ),
        k AS (
          SELECT doc_id, pos, chunk_text,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_text
                                    ORDER BY pos) AS rn
          FROM e
        )
        SELECT doc_id,
               COUNT(*) AS n_chunks,
               CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dupes_removed,
               md5(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                              ' ' ORDER BY pos)) AS clean_fp
        FROM k GROUP BY doc_id
        """,
        "within-document duplicate 5-word-window removal "
        "with cleaned-text fingerprints",
        ("pipeline", "dedup"),
    ),
    # -- retrieval ---------------------------------------------------------------
    "docs_bm25_topk": QuerySpec(
        retrieval.docs_bm25_topk,
        f"""
        WITH {_BM25_CTES}
        SELECT doc_id, n_terms_matched, bm25, bm_rank FROM bm
        """,
        "BM25 top-50 lexical retrieval for the fixed 3-term audit query "
        "(Lucene idf, k1=1.2 b=0.75)",
        ("retrieval", "text"),
    ),
    "docs_hybrid_rrf": QuerySpec(
        retrieval.docs_hybrid_rrf,
        _hybrid_rrf_oracle(f"""
          WITH q AS (SELECT embedding AS q_emb FROM embeddings
                     WHERE vec_id = {retrieval.HYBRID_QUERY_VEC_ID}),
          scored AS (
            SELECT e.vec_id,
                   ROUND({_dot_sql('q.q_emb', 'e.embedding')}
                     / (sqrt({_dot_sql('q.q_emb', 'q.q_emb')})
                        * sqrt({_dot_sql('e.embedding', 'e.embedding')})),
                     6) AS cos_sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id != {retrieval.HYBRID_QUERY_VEC_ID}
          )
          SELECT vec_id AS doc_id, cos_sim, cos_rank
          FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id)
                            AS cos_rank
                FROM scored)
          WHERE cos_rank <= {retrieval.HYBRID_TOPK}
        """),
        "reciprocal-rank-fusion hybrid retrieval: BM25 top-50 fused "
        "with exact-cosine top-50 (query vector = stored vec 0)",
        ("retrieval", "text", "vector"),
    ),
    "docs_hybrid_rrf_lsh": QuerySpec(
        retrieval.docs_hybrid_rrf_lsh,
        # same fusion, dense side = the sign-LSH ANN index (the
        # documented plan-local scale-path substitution); the LSH
        # top-k oracle mirrors the seeded hyperplanes exactly
        _hybrid_rrf_oracle(f"""
          SELECT vec_id AS doc_id, cos_sim, rank AS cos_rank
          FROM ({_ann_lsh_oracle(k=retrieval.HYBRID_TOPK,
                                 qids=(retrieval.HYBRID_QUERY_VEC_ID,))}) x
        """),
        "hybrid RRF with the sign-LSH ANN index as the dense side "
        "(scale-path variant of docs_hybrid_rrf)",
        ("retrieval", "text", "vector"),
    ),
    "docs_mmr_rerank": QuerySpec(
        retrieval.docs_mmr_rerank,
        _mmr_oracle(),  # greedy unrolled into k chained arg-max CTEs —
        # the full selection TRAJECTORY (rank, score per step) is
        # hash-checked, not just the final set
        "MMR diversity re-rank: greedy 6-of-16 selection trading "
        "relevance vs max-similarity-to-selected (lam=0.7)",
        ("retrieval", "vector"),
    ),
    "docs_pii_scrub": QuerySpec(
        pipeline.docs_pii_scrub,
        f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{pipeline.PII_EMAIL}'))
                 AS n_email,
               len(regexp_extract_all(text, '{pipeline.PII_IPV4}'))
                 AS n_ip,
               len(regexp_extract_all(text,
                     '{pipeline.denylist_regex()}')) AS n_denied,
               md5(regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '{pipeline.PII_EMAIL}',
                                      '<EMAIL>', 'g'),
                       '{pipeline.PII_IPV4}', '<IP>', 'g'),
                     '{pipeline.denylist_regex()}',
                     '<TERM>', 'g')) AS clean_md5
        FROM documents
        """,
        "PII/denylist scrub audit: e-mail + IPv4 + term redaction "
        "counts and scrubbed-text fingerprint",
        ("pipeline", "text"),
    ),
    # -- dedup -------------------------------------------------------------------
    "dedup_substring_spans": QuerySpec(
        dedup.dedup_substring_spans,
        # duplicate-span report: any 10-word window occurring >= 2
        # times (across or within docs) marks its start positions;
        # marked positions whose coverage is contiguous (start gap
        # <= window) merge gaps-and-islands style into maximal spans,
        # so dup word mass is a true union (never > doc length)
        f"""
        WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS words
                   FROM documents),
        w AS (
          SELECT doc_id, CAST(i.r AS INT) AS pos,
                 md5(array_to_string(
                   words[CAST(i.r + 1 AS INT):CAST(i.r + {dedup.SPAN_WINDOW}
                                                   AS INT)],
                   ' ')) AS wh
          FROM d, LATERAL unnest(
            range(0, GREATEST(len(words) - {dedup.SPAN_WINDOW - 1}, 0))) i(r)
        ),
        dup AS (SELECT wh FROM w GROUP BY wh HAVING COUNT(*) >= 2),
        m AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (wh)),
        lagged AS (
          SELECT doc_id, pos,
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM m
        ),
        isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN pos - prev > {dedup.SPAN_WINDOW}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM lagged
        ),
        sp AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e, COUNT(*) AS nw
               FROM isl GROUP BY doc_id, grp),
        rep AS (
          SELECT doc_id, COUNT(*) AS n_spans,
                 CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
                 MAX(e - s + {dedup.SPAN_WINDOW}) AS max_span_len,
                 CAST(SUM(e - s + {dedup.SPAN_WINDOW}) AS BIGINT)
                   AS n_dup_words
          FROM sp GROUP BY doc_id
        ),
        tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY doc_id)
        SELECT dd.doc_id,
               COALESCE(t.n_windows, 0) AS n_windows,
               COALESCE(r.n_dup_windows, 0) AS n_dup_windows,
               COALESCE(r.n_spans, 0) AS n_spans,
               COALESCE(r.max_span_len, 0) AS max_span_len,
               COALESCE(r.n_dup_words, 0) AS n_dup_words
        FROM documents dd
        LEFT JOIN tot t USING (doc_id)
        LEFT JOIN rep r USING (doc_id)
        """,
        "exact-substring duplicate-span report (10-word windows, "
        "suffix-array-style repeated spans, per-doc dup word mass)",
        ("dedup", "text"),
    ),
    "docs_pagerank_neardup": QuerySpec(
        dedup.docs_pagerank_neardup,
        _pagerank_ctes(),
        "3-round PageRank document-importance over the near-dup "
        "Jaccard>=0.5 similarity graph (non-isolated nodes)",
        ("dedup", "graph", "iterative"),
    ),
    "docs_communities_labelprop": QuerySpec(
        dedup.docs_communities_labelprop,
        _labelprop_ctes(),  # trajectory unrolled: one CTE per round,
        # mode-of-neighbors with (count DESC, label ASC) tie order
        "3-round synchronous label-propagation communities over the "
        "near-dup similarity graph (mode of neighbor labels, "
        "deterministic tie-break)",
        ("dedup", "graph", "iterative"),
    ),
    "docs_communities_modularity": QuerySpec(
        dedup.docs_communities_modularity,
        _modularity_oracle(),
        "Newman modularity of the LPA partition over the near-dup "
        "graph: per-community internal-edge fraction vs the "
        "random-graph expectation, partition Q repeated per row — "
        "the community-quality go/no-go audit",
        ("dedup", "graph", "agg"),
    ),
    "docs_neardup_triangles": QuerySpec(
        dedup.docs_neardup_triangles,
        _TRIANGLES_SQL,
        "per-doc triangle count + local clustering coefficient over "
        "the near-dup similarity graph (degree-oriented enumeration)",
        ("dedup", "graph"),
    ),
    "docs_kcore_neardup": QuerySpec(
        dedup.docs_kcore_neardup,
        _k_core_oracle(dedup.kcore_rounds_for("/root/testdata/sf0.01")),
        "2-core of the near-dup similarity graph (simultaneous-peel "
        "convergence; peel-round count hash-pinned per dataset)",
        ("dedup", "graph", "iterative"),
    ),
    "dedup_source_overlap": QuerySpec(
        dedup.dedup_source_overlap,
        _CANDIDATES_SQL
        + _EDGES_BODY
        + """,
    sp AS (
      SELECT least(da.source, db.source) AS src_lo,
             greatest(da.source, db.source) AS src_hi,
             j.id_a, j.id_b
      FROM jac j
      JOIN documents da ON da.doc_id = j.id_a
      JOIN documents db ON db.doc_id = j.id_b
    ),
    np AS (SELECT src_lo, src_hi, COUNT(*) AS n_pairs FROM sp GROUP BY 1, 2),
    ids AS (
      SELECT DISTINCT src_lo, src_hi, id FROM (
        SELECT src_lo, src_hi, id_a AS id FROM sp
        UNION ALL SELECT src_lo, src_hi, id_b FROM sp
      )
    ),
    nd AS (SELECT src_lo, src_hi, COUNT(*) AS n_docs FROM ids GROUP BY 1, 2)
    SELECT src_lo, src_hi, n_pairs, n_docs
    FROM np JOIN nd USING (src_lo, src_hi)
    """,
        "cross-source duplicate-overlap matrix over the near-dup "
        "graph (which corpora duplicate each other)",
        ("dedup", "pipeline"),
    ),
    "dedup_containment": QuerySpec(
        dedup.dedup_containment,
        _CANDIDATES_SQL
        + f""",
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sa.shingle = sb.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT c.id_a, c.id_b, c.n_common,
           za.sz AS sz_a, zb.sz AS sz_b,
           ROUND(c.n_common / za.sz, 6) AS containment_a,
           ROUND(c.n_common / zb.sz, 6) AS containment_b,
           CASE WHEN ROUND(c.n_common / za.sz, 6)
                     >= {dedup.CONTAINMENT_THRESHOLD}
                 AND ROUND(c.n_common / zb.sz, 6)
                     >= {dedup.CONTAINMENT_THRESHOLD} THEN 'mutual'
                WHEN ROUND(c.n_common / za.sz, 6)
                     >= {dedup.CONTAINMENT_THRESHOLD} THEN 'a_in_b'
                WHEN ROUND(c.n_common / zb.sz, 6)
                     >= {dedup.CONTAINMENT_THRESHOLD} THEN 'b_in_a'
                ELSE 'partial' END AS direction
    FROM common c
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b
    """,
        "asymmetric shingle containment + direction verdict for LSH "
        "candidate pairs (quote-inclusion dedup signal)",
        ("dedup",),
    ),
    "dedup_exact": QuerySpec(
        dedup.dedup_exact_stats,
        f"""
        SELECT md5({_NORM}) AS content_key,
               MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1
        """,
        "exact dedup by content hash",
        ("dedup",),
    ),
    "dedup_latest_per_key": QuerySpec(
        dedup.dedup_latest_per_key,
        """
        SELECT user_id, event_type, event_id, ts, value
        FROM (
          SELECT user_id, event_type, event_id, ts, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
        """,
        "changelog compaction: newest event per (user_id, event_type)",
        ("dedup",),
    ),
    "dedup_minhash_candidates": QuerySpec(
        dedup.dedup_minhash_candidates,
        _CANDIDATES_SQL + "SELECT id_a, id_b FROM cand",
        "MinHash-LSH candidate pairs (12 hashes, 4 bands of 3)",
        ("dedup",),
    ),
    "dedup_ngram_jaccard": QuerySpec(
        dedup.dedup_ngram_jaccard,
        _CANDIDATES_SQL
        + """,
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b AND sa.shingle = sb.shingle
          GROUP BY c.id_a, c.id_b
        )
        SELECT c.id_a, c.id_b,
               ROUND(c.n_common / (za.sz + zb.sz - c.n_common), 6) AS jaccard
        FROM common c
        JOIN sizes za ON za.doc_id = c.id_a
        JOIN sizes zb ON zb.doc_id = c.id_b
        WHERE c.n_common / (za.sz + zb.sz - c.n_common) >= 0.5
        """,
        "exact n-gram Jaccard over LSH candidates",
        ("dedup",),
    ),
    "dedup_prefix_jaccard": QuerySpec(
        dedup.dedup_prefix_jaccard,
        # GROUND-TRUTH oracle (all pairs sharing any shingle): the
        # prefix filter's completeness theorem says the engine loses
        # no qualifying pair, so it must hash-match the full
        # common-shingle join — unlike the LSH entries, whose oracles
        # mirror the banding
        f"""
        WITH {_SHINGLES_CTE.strip().lstrip()},
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
          SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS n_common
          FROM sh sa JOIN sh sb
            ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
          GROUP BY 1, 2
        )
        SELECT c.id_a, c.id_b,
               ROUND(c.n_common / (za.sz + zb.sz - c.n_common), 6) AS jaccard
        FROM common c
        JOIN sizes za ON za.doc_id = c.id_a
        JOIN sizes zb ON zb.doc_id = c.id_b
        WHERE c.n_common / (za.sz + zb.sz - c.n_common) >= 0.5
        """,
        "EXACT prefix-filtered similarity self-join at Jaccard >= 0.5 "
        "(AllPairs — zero recall loss, checked against the full "
        "common-shingle ground truth)",
        ("dedup", "pipeline"),
    ),
    "dedup_clusters": QuerySpec(
        dedup.dedup_cluster_assignments,
        _CC_CTES
        + "SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id",
        "duplicate clusters: connected components over near-dup pairs",
        ("dedup",),
    ),
    "dedup_clusters_star": QuerySpec(
        dedup.dedup_cluster_assignments_star,
        # identical oracle to dedup_clusters: component labels are
        # algorithm-invariant, which is exactly what this entry proves
        # for the large-star/small-star fallback at driver level
        _CC_CTES
        + "SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id",
        "duplicate clusters via the large-star/small-star CC fallback",
        ("dedup",),
    ),
    "dedup_simhash": QuerySpec(
        dedup.dedup_simhash_signatures,
        f"""
        WITH w AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
          FROM documents
        ),
        h AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS wh
          FROM w WHERE word != ''
        ),
        bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM h GROUP BY doc_id)
        SELECT doc_id, ({_SIMHASH_SIG}) AS simhash32 FROM bits
        """,
        "32-bit SimHash signatures",
        ("dedup",),
    ),
    # -- vector similarity ---------------------------------------------------------
    "vector_norms": QuerySpec(
        vector.pairwise_norms,
        f"""
        SELECT vec_id,
               ROUND(sqrt({_dot_sql('embedding', 'embedding')}), 6) AS l2_norm,
               ROUND(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * 1.0)) / 64.0, 6) AS mean_component,
               label
        FROM embeddings
        """,
        "vector norms / array aggregation",
        ("vector",),
    ),
    "ann_brute_force": QuerySpec(
        vector.ann_brute_force,
        _ann_brute_oracle(),
        "brute-force cosine top-k",
        ("vector",),
    ),
    "emb_nn_join": QuerySpec(
        vector.emb_nn_join,
        _ann_nn_join_oracle(),
        "LSH-blocked nearest-neighbor JOIN: every non-snapshot vector "
        "matched to its best snapshot neighbor among bucket "
        "candidates (the corpus-as-queries retrieval primitive — "
        "bucket-blocked, never |Q|x|S|)",
        ("vector", "join"),
    ),
    "ann_lsh": QuerySpec(
        vector.ann_lsh,
        _ann_lsh_oracle(),  # seeded hyperplanes embedded as SQL
        # literals (the _lsh_cosine_oracle technique) — the approximate
        # index is exactly hash-checkable; recall vs brute force is
        # additionally tested in tests/test_vector.py. Table count
        # follows vector.ANN_LSH_TABLES (16, tuned for recall>=0.8).
        "LSH-bucketed approximate NN top-k (hyperplane-mirrored oracle)",
        ("vector",),
    ),
    "ann_ivf": QuerySpec(
        vector.ann_ivf,
        _ann_ivf_oracle(),  # seeded centroids embedded as SQL literals;
        # probe count follows vector.ANN_IVF_PROBE (10, tuned for
        # recall>=0.8)
        "IVF (inverted-file) approximate NN top-k "
        "(centroid-mirrored oracle)",
        ("vector",),
    ),
    "ann_hard_negatives": QuerySpec(
        vector.ann_hard_negatives,
        # brute-force cosine composed with the near-dup jac chain:
        # exclusion BEFORE ranking, ranks re-computed on survivors
        _CANDIDATES_SQL
        + _EDGES_BODY
        + f""",
    q AS (SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings
          WHERE vec_id IN ({", ".join(map(str, vector.DEFAULT_QUERY_IDS))})),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND({_dot_sql("q.q_emb", "e.embedding")}
               / (sqrt({_dot_sql("q.q_emb", "q.q_emb")})
                  * sqrt({_dot_sql("e.embedding", "e.embedding")})), 6)
               AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    ),
    filtered AS (
      SELECT s.* FROM scored s
      WHERE NOT EXISTS (
        SELECT 1 FROM jac j
        WHERE j.id_a = least(s.query_id, s.vec_id)
          AND j.id_b = greatest(s.query_id, s.vec_id)
      )
    )
    SELECT query_id, vec_id, cos_sim, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS rank
          FROM filtered)
    WHERE rank <= 10
    """,
        "hard-negative mining: exact cosine top-10 excluding near-dup "
        "pairs (contrastive-training negatives, re-ranked post-filter)",
        ("vector", "dedup", "pipeline"),
    ),
    "ann_recall_audit": QuerySpec(
        vector.ann_recall_audit,
        _ann_recall_oracle(),
        "measured recall@10 of LSH and IVF vs exact top-k over a "
        "5-query sample, with a pinned recall_ok>=0.8 verdict",
        ("vector", "audit"),
    ),
    "dedup_embedding_cosine": QuerySpec(
        dedup.dedup_embedding_cosine,
        _lsh_cosine_oracle(threshold=0.3),
        "embedding-cosine near-dup pairs (LSH-blocked scale path, "
        "hyperplane-mirrored oracle)",
        ("dedup", "vector"),
    ),
    "dedup_semantic": QuerySpec(
        dedup.dedup_semantic,
        # SemDeDup: the oracle reuses the EXACT 2-round k-means
        # trajectory CTEs ({A} = final assignment with vec_id, emb,
        # cid), then mirrors the cluster-local pair scoring and
        # lowest-neighbor survivor rule term for term
        _kmeans_oracle(
            2,
            custom_final=f""",
        pairs AS (
          SELECT x.vec_id, y.vec_id AS nb_id,
                 ROUND({_dot_sql('x.emb', 'y.emb')}
                   / (sqrt({_dot_sql('x.emb', 'x.emb')})
                      * sqrt({_dot_sql('y.emb', 'y.emb')})), 6) AS cs
          FROM {{A}} x JOIN {{A}} y
            ON x.cid = y.cid AND y.vec_id < x.vec_id
        ),
        dup AS (
          SELECT vec_id, MIN(nb_id) AS dup_of
          FROM pairs WHERE cs >= 0.3 GROUP BY vec_id
        )
        SELECT a.vec_id, a.cid, d.dup_of, d.dup_of IS NULL AS kept
        FROM {{A}} a LEFT JOIN dup d ON d.vec_id = a.vec_id
        """,
        ),
        "SemDeDup semantic dedup: k-means-blocked in-cluster cosine "
        "dedup with lowest-id survivor per duplicate",
        ("dedup", "vector", "iterative"),
    ),
    "emb_pca_power": QuerySpec(
        vector.emb_pca_power,
        _pca_power_oracle(),
        "top principal component of the embedding cloud: exact "
        "integer-quantized covariance + 10 rounded power-iteration "
        "steps, Rayleigh eigenvalue and explained-variance ratio",
        ("vector", "iterative", "stats"),
    ),
    "label_centroids": QuerySpec(
        vector.label_centroid_similarity,
        """
        WITH ex AS (
          SELECT label, i.range - 1 AS pos,
                 CAST(embedding[CAST(i.range AS INT)] AS DOUBLE) AS v
          FROM embeddings, range(1, 65) i
        ),
        cent AS (SELECT label, pos, AVG(v) AS c FROM ex GROUP BY 1, 2)
        SELECT label, ROUND(sqrt(SUM(c * c)), 6) AS centroid_norm,
               COUNT(*) AS dim
        FROM cent GROUP BY label
        """,
        "per-label centroid norms (grouped vector aggregation)",
        ("vector",),
    ),
    # -- multimodal ------------------------------------------------------------------
    "media_phash_neardup": QuerySpec(
        multimodal.media_phash_neardup,
        _phash_oracle(),
        "perceptual-hash (aHash) near-dup pairs over media payloads: "
        "64-bit average hash as two 32-bit halves, 8-band bucketed "
        "candidates, bit_count(xor) Hamming verify — the "
        "multimodal x dedup composition, pure codegen",
        ("multimodal", "dedup"),
    ),
    "media_metadata_stats": QuerySpec(
        multimodal.media_metadata_stats,
        """
        SELECT 'synthetic/text' AS media_type,
               COUNT(*) AS n_items,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               ROUND(AVG(octet_length(encode(text))), 4) AS avg_bytes,
               MAX(octet_length(encode(text))) AS max_bytes
        FROM documents
        """,
        "multimodal metadata-only scan",
        ("multimodal",),
    ),
    "media_features": QuerySpec(
        multimodal.media_features,
        """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               ROUND(CAST(list_sum(list_transform(
                       range(1, length(text) + 1),
                       i -> ascii(substr(text, CAST(i AS INT), 1))))
                     AS DOUBLE) / octet_length(encode(text)), 6) AS byte_mean,
               lower(hex(encode(substr(text, 1, 8)))) AS header_hex
        FROM documents
        """,
        "multimodal feature extraction via Arrow mapInPandas (stub decode)",
        ("multimodal",),
    ),
    "media_frame_sample": QuerySpec(
        multimodal.media_frame_sample,
        """
        WITH idx AS (
          SELECT doc_id, text,
                 unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS fi
          FROM documents
        ),
        fr AS (
          SELECT doc_id, CAST(fi AS INT) AS frame_idx,
                 substr(text, CAST(fi * 64 + 1 AS INT), 64) AS frame
          FROM idx WHERE fi % 2 = 0
        )
        SELECT doc_id, frame_idx, length(frame) AS n_bytes, md5(frame) AS frame_md5,
               md5(array_to_string(
                 [frame[j] FOR j IN range(1, length(frame) + 1, 4)], ''
               )) AS thumb_md5
        FROM fr
        """,
        "frame sampling + resize-stub thumbnails (1→N mapInPandas)",
        ("multimodal",),
    ),
    "source_binaryfile_ingest": QuerySpec(
        roundtrip.source_binaryfile_ingest,
        roundtrip.binaryfile_oracle(
            os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        ),
        "opaque-binary file ingest (binaryFile source, content digest)",
        ("source", "multimodal"),
    ),
    "streaming_click_attribution": QuerySpec(
        stream_joins.streaming_click_attribution,
        """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        """,
        "stream-stream inner join (watermarked 1-hour attribution window)",
        ("streaming", "join", "events"),
    ),
    "streaming_click_attribution_outer": QuerySpec(
        stream_joins.streaming_click_attribution_outer,
        # the STREAMING semantics are oracle-encoded, not just the
        # batch join: unmatched clicks emit null-extended only once
        # the global watermark (min of the two filtered inputs' maxes,
        # minus the 1 h delay) passes click_ts + horizon — i.e.
        # click_ts < least(max click ts, max purchase ts) − 2 h; later
        # clicks stay buffered and are correctly absent
        """
        WITH c AS (SELECT user_id, event_id AS click_id, ts AS cts
                   FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
              FROM events WHERE event_type = 'purchase'),
        wm AS (SELECT LEAST((SELECT MAX(cts) FROM c),
                            (SELECT MAX(pts) FROM p))
                      - INTERVAL 2 HOUR AS cutoff),
        matched AS (
          SELECT c.user_id, c.click_id, p.purchase_id FROM c JOIN p
            ON c.user_id = p.user_id
           AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR),
        unmatched AS (
          SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id
          FROM c CROSS JOIN wm
          WHERE NOT EXISTS (SELECT 1 FROM p
                            WHERE p.user_id = c.user_id
                              AND p.pts >= c.cts
                              AND p.pts <= c.cts + INTERVAL 1 HOUR)
            AND c.cts < wm.cutoff)
        SELECT user_id, click_id, purchase_id FROM matched
        UNION ALL SELECT * FROM unmatched
        """,
        "LEFT OUTER stream-stream join: unmatched clicks null-extend "
        "only when the watermark proves no match can arrive",
        ("streaming", "join", "events"),
    ),
    "streaming_click_attribution_full": QuerySpec(
        stream_joins.streaming_click_attribution_full,
        # BOTH eviction semantics are oracle-encoded (r14 verdict item
        # #5): unmatched clicks null-extend once the watermark passes
        # click_ts + horizon (cts < wm − 1 h, the LEFT OUTER cutoff),
        # and unmatched purchases null-extend once the CLICK-side
        # watermark passes their event time (pts < wm — a matching
        # click needs cts ≤ pts, so watermark > pts proves
        # matchlessness); wm = least(max click ts, max purchase ts)
        # − 1 h under the AvailableNow drain. Rows in each side's
        # trailing uncertainty window stay buffered and are absent.
        """
        WITH c AS (SELECT user_id, event_id AS click_id, ts AS cts
                   FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
              FROM events WHERE event_type = 'purchase'),
        wm AS (SELECT LEAST((SELECT MAX(cts) FROM c),
                            (SELECT MAX(pts) FROM p))
                      - INTERVAL 1 HOUR AS wm),
        matched AS (
          SELECT c.user_id, c.click_id, p.purchase_id FROM c JOIN p
            ON c.user_id = p.user_id
           AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR),
        unmatched_c AS (
          SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id
          FROM c CROSS JOIN wm
          WHERE NOT EXISTS (SELECT 1 FROM p
                            WHERE p.user_id = c.user_id
                              AND p.pts >= c.cts
                              AND p.pts <= c.cts + INTERVAL 1 HOUR)
            AND c.cts + INTERVAL 1 HOUR < wm.wm),
        unmatched_p AS (
          SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id,
                 p.purchase_id
          FROM p CROSS JOIN wm
          WHERE NOT EXISTS (SELECT 1 FROM c
                            WHERE c.user_id = p.user_id
                              AND p.pts >= c.cts
                              AND p.pts <= c.cts + INTERVAL 1 HOUR)
            AND p.pts < wm.wm)
        SELECT user_id, click_id, purchase_id FROM matched
        UNION ALL SELECT * FROM unmatched_c
        UNION ALL SELECT * FROM unmatched_p
        """,
        "FULL OUTER stream-stream join: both sides null-extend only "
        "at watermark proof of matchlessness",
        ("streaming", "join", "events"),
    ),
}


def _doc_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's word count expressed over the documents table
    (its own app ran on flat text; same plan: explode + count —
    SURVEY.md §2 M1/R3)."""
    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


REGISTRY["doc_word_count"] = QuerySpec(
    _doc_word_count,
    """
    SELECT word, COUNT(*) AS count
    FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
          FROM documents)
    WHERE word != ''
    GROUP BY word
    """,
    "reference word count over the documents table",
    ("mrlite",),
)


REGISTRY.update(
    {
        "ts_gapfill_hourly": QuerySpec(
            timeseries.ts_gapfill_hourly,
            """
            WITH hourly AS (
              SELECT event_type, date_trunc('hour', ts) AS hour,
                     COUNT(*) AS n,
                     SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS sv
              FROM events GROUP BY 1, 2
            ),
            b AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
                         date_trunc('hour', MAX(ts)) AS h1 FROM events),
            spine AS (
              SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
              FROM b
            ),
            grid AS (
              SELECT t.event_type, s.hour
              FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t
            )
            SELECT g.event_type, g.hour,
                   CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
                   last_value(h.sv IGNORE NULLS) OVER (
                     PARTITION BY g.event_type ORDER BY g.hour
                     ROWS UNBOUNDED PRECEDING) AS ffill_value
            FROM grid g
            LEFT JOIN hourly h
              ON g.event_type = h.event_type AND g.hour = h.hour
            """,
            "dense hourly resample: zero-filled counts, forward-filled values",
            ("timeseries",),
        ),
        "ts_scd2_intervals": QuerySpec(
            timeseries.ts_scd2_intervals,
            """
            SELECT user_id, event_type AS state, ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   lead(ts) OVER w IS NULL AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            """,
            "changelog -> SCD2 validity intervals per user",
            ("timeseries",),
        ),
        "listagg_nations": QuerySpec(
            relational.listagg_nations,
            """
            SELECT r_name,
                   string_agg(n_name, ',' ORDER BY n_name) AS nations,
                   CAST(COUNT(*) AS BIGINT) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
            """,
            "ordered string aggregation (LISTAGG) of nations per region",
            ("relational", "agg"),
        ),
        "percentile_battery": QuerySpec(
            relational.percentile_battery,
            """
            SELECT o_orderpriority,
                   quantile_cont(o_totalprice, 0.25) AS p25,
                   quantile_cont(o_totalprice, 0.5) AS p50,
                   quantile_cont(o_totalprice, 0.9) AS p90,
                   quantile_disc(o_totalprice, 0.5) AS p50_disc,
                   median(o_totalprice) AS med
            FROM orders GROUP BY o_orderpriority
            """,
            "exact percentile battery: cont/disc/median per priority",
            ("relational", "agg"),
        ),
        "histogram_orders": QuerySpec(
            relational.histogram_orders,
            """
            SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) // 5000000
                     AS bucket,
                   COUNT(*) AS n_orders,
                   ROUND(MIN(o_totalprice), 2) AS min_price,
                   ROUND(MAX(o_totalprice), 2) AS max_price
            FROM orders GROUP BY 1
            """,
            "fixed-width value histogram via exact integer-cents buckets",
            ("relational", "agg"),
        ),
        "docs_boilerplate": QuerySpec(
            pipeline.docs_boilerplate,
            f"""
            WITH w AS (SELECT doc_id, {_WORDS_LC} AS words FROM documents),
            blk AS (
              SELECT doc_id,
                     md5(array_to_string(words[i:i+9], ' ')) AS block_hash
              FROM w, unnest(range(1, len(words) - 8, 10)) t(i)
              WHERE len(words) >= 10
            )
            SELECT block_hash,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM blk GROUP BY block_hash
            HAVING COUNT(DISTINCT doc_id) >= 2
            """,
            "boilerplate dictionary: 10-word blocks recurring across docs",
            ("pipeline", "dedup"),
        ),
        "docs_difficulty_buckets": QuerySpec(
            pipeline.docs_difficulty_buckets,
            f"""
            WITH t AS (
              SELECT source, doc_id, len({_WORDS_LC}) AS n_words
              FROM documents
            ),
            b AS (
              SELECT source, n_words,
                     ntile(10) OVER (PARTITION BY source
                                     ORDER BY n_words, doc_id) AS bucket
              FROM t
            )
            SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   MIN(n_words) AS min_words, MAX(n_words) AS max_words
            FROM b GROUP BY source, bucket
            """,
            "curriculum binning: per-source length deciles (ntile)",
            ("pipeline",),
        ),
        "docs_curriculum_order": QuerySpec(
            pipeline.docs_curriculum_order,
            # the oracle states the SEMANTICS as a plain global window;
            # the engine computes the identical total-order position
            # arithmetically from broadcast per-source counts so no
            # single-task global sort appears in the plan
            f"""
            WITH t AS (
              SELECT source, doc_id, len({_WORDS_LC}) AS n_words
              FROM documents
            ),
            r AS (
              SELECT source, doc_id, n_words,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY n_words, doc_id)
                       AS rank_in_source
              FROM t
            )
            SELECT doc_id, source, n_words, rank_in_source,
                   ROW_NUMBER() OVER (ORDER BY rank_in_source, source,
                                      doc_id) AS global_pos
            FROM r
            """,
            "interleaved short->long curriculum order; global position "
            "computed shuffle-arithmetically, not via a global sort",
            ("pipeline",),
        ),
        "events_masked_profile": QuerySpec(
            pipeline.events_masked_profile,
            """
            SELECT event_type,
                   regexp_replace(props, '[0-9]+', '#', 'g') AS template,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(len(regexp_extract_all(props, '[0-9]+')))
                        AS BIGINT) AS n_masked_runs
            FROM events GROUP BY 1, 2
            """,
            "PII-style digit masking with template profile audit",
            ("pipeline",),
        ),
        "layout_zorder_scan": QuerySpec(
            roundtrip.layout_zorder_scan,
            roundtrip.ZORDER_ORACLE,
            "z-order clustered layout: two-dimension pruned scan",
            ("source", "layout"),
        ),
        "udf_arrow_norms": QuerySpec(
            vector.arrow_norms,
            f"""
            SELECT vec_id,
                   ROUND(sqrt({_dot_sql('embedding', 'embedding')}), 6)
                     AS l2_norm
            FROM embeddings
            """,
            "mapInArrow UDF surface: L2 norms on raw Arrow batches",
            ("udf", "vector"),
        ),
        "docs_weighted_sample": QuerySpec(
            pipeline.docs_weighted_sample,
            f"""
            WITH d AS (
              SELECT lang, doc_id, len({_WORDS_LC}) AS n_words,
                     CAST(('0x' || substr(md5('wsamp:' ||
                           CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 10000 AS b
              FROM documents
            )
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS sum_words,
                   MIN(doc_id) AS min_doc
            FROM d WHERE b < least(10000, n_words * 40)
            GROUP BY lang
            """,
            "length-weighted deterministic sampling (importance mix)",
            ("pipeline",),
        ),
        "docs_source_cap": QuerySpec(
            pipeline.docs_source_cap,
            """
            SELECT source, doc_id, n_chars, rank_in_source FROM (
              SELECT source, doc_id, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id ASC)
                       AS rank_in_source
              FROM documents
            ) WHERE rank_in_source <= 5
            """,
            "mixture capping: 5 longest docs per source (WindowGroupLimit)",
            ("pipeline",),
        ),
        "docs_regex_tokens": QuerySpec(
            text.regex_token_stats,
            r"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\s]') AS toks,
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 w -> w != '') AS ws
              FROM documents
            )
            SELECT doc_id, len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct_tokens,
                   len(ws) AS n_whitespace_tokens
            FROM t
            """,
            "BPE-ish regex pre-tokenizer counts vs whitespace tokens",
            ("text", "pipeline"),
        ),
        "grouping_id_battery": QuerySpec(
            relational.grouping_id_battery,
            """
            SELECT l_returnflag, l_linestatus,
                   CAST(2 * GROUPING(l_returnflag)
                        + GROUPING(l_linestatus) AS BIGINT) AS gid,
                   CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
                   CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
                   COUNT(*) AS n_items,
                   SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) / 100.0
                     AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
            """,
            "cube with explicit GROUPING/GROUPING_ID level markers",
            ("relational", "agg"),
        ),
        "dedup_simhash_pairs": QuerySpec(
            dedup.dedup_simhash_pairs,
            f"""
            WITH w AS (
              SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
              FROM documents
            ),
            h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS wh
              FROM w WHERE word != ''
            ),
            bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM h GROUP BY doc_id),
            sig AS (SELECT doc_id, {_SIMHASH_SIG} AS s FROM bits),
            bands AS (
              SELECT doc_id, s, b.i, (s >> (8 * b.i)) & 255 AS bv
              FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) b(i)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.s AS sa, b.s AS sb
              FROM bands a JOIN bands b
                ON a.i = b.i AND a.bv = b.bv AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3
            """,
            "SimHash near-dup pairs: pigeonhole band join + Hamming verify",
            ("dedup",),
        ),
        "dedup_simhash64_pairs": QuerySpec(
            dedup.dedup_simhash64_pairs,
            f"""
            WITH w AS (
              SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
              FROM documents
            ),
            h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS wh_hi,
                     CAST(('0x' || substr(md5(word), 9, 8)) AS BIGINT) AS wh_lo
              FROM w WHERE word != ''
            ),
            bits AS (SELECT doc_id, {_SIMHASH64_BITS} FROM h GROUP BY doc_id),
            sig AS (SELECT doc_id, {_SIMHASH64_SIG} AS s FROM bits),
            bands AS (
              SELECT doc_id, s, b.i, (s >> (8 * b.i)) & 255 AS bv
              FROM sig CROSS JOIN (VALUES (0), (1), (2), (3),
                                          (4), (5), (6), (7)) b(i)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.s AS sa, b.s AS sb
              FROM bands a JOIN bands b
                ON a.i = b.i AND a.bv = b.bv AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3
            """,
            "64-bit SimHash near-dup pairs: 8x8-bit pigeonhole bands",
            ("dedup",),
        ),
        "recursive_weekly_orders": QuerySpec(
            relational.recursive_weekly_orders,
            """
            WITH RECURSIVE weeks(week_start) AS (
              SELECT TIMESTAMP '1995-01-02'
              UNION ALL
              SELECT week_start + INTERVAL 7 DAY FROM weeks
              WHERE week_start < TIMESTAMP '1995-12-18'
            ),
            by_week AS (
              SELECT date_trunc('week', o_orderdate) AS week_start,
                     COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS tp
              FROM orders
              GROUP BY 1
            )
            SELECT w.week_start,
                   CAST(COALESCE(b.n, 0) AS BIGINT) AS n_orders,
                   COALESCE(b.tp, 0.0) AS total_price
            FROM weeks w LEFT JOIN by_week b ON w.week_start = b.week_start
            """,
            "recursive CTE calendar spine with zero-filled weekly rollup",
            ("relational", "timeseries"),
        ),
        "variant_shred_events": QuerySpec(
            relational.variant_shred_events,
            """
            WITH k AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events
            )
            SELECT event_type, k % 10 AS k_mod, COUNT(*) AS n,
                   MIN(k) AS min_k, MAX(k) AS max_k,
                   CAST(SUM(k) AS BIGINT) AS sum_k
            FROM k GROUP BY event_type, k % 10
            """,
            "VARIANT shredding: parse_json once, typed variant_get paths",
            ("relational", "json"),
        ),
        "lateral_topk_per_order": QuerySpec(
            relational.lateral_topk_per_order,
            """
            SELECT o.o_orderkey, l.l_linenumber, l.price
            FROM orders o,
            LATERAL (SELECT l_linenumber,
                            ROUND(l_extendedprice, 2) AS price
                     FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                     ORDER BY l_extendedprice DESC, l_linenumber
                     LIMIT 2) l
            WHERE o.o_orderkey % 97 = 0
            """,
            "correlated LATERAL subquery: top-2 line items per order",
            ("relational", "join"),
        ),
        "asof_tolerance_clicks": QuerySpec(
            asof.asof_tolerance_clicks,
            """
            SELECT c.user_id, c.event_id AS click_id, c.ts,
                   CASE WHEN p.ts >= c.ts - INTERVAL 10 MINUTE
                        THEN p.event_id END AS purchase_id,
                   CASE WHEN p.ts >= c.ts - INTERVAL 10 MINUTE
                        THEN (epoch_us(c.ts) - epoch_us(p.ts)) / 1000000.0
                   END AS gap_sec
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts >= p.ts
            """,
            "as-of join with tolerance bound (merge_asof contract)",
            ("join", "custom", "timeseries"),
        ),
    }
)


_PROFILE_COLS: tuple[str, ...] = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _profile_orders_oracle() -> str:
    """One wide aggregate + UNION ALL unpivot, mirroring the Spark
    stack() exactly (same column order, same VARCHAR casts)."""
    aggs = ", ".join(
        f"COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS {c}__nulls, "
        f"COUNT(DISTINCT {c}) AS {c}__distinct, "
        f"CAST(MIN({c}) AS VARCHAR) AS {c}__min, "
        f"CAST(MAX({c}) AS VARCHAR) AS {c}__max"
        for c in _PROFILE_COLS
    )
    sels = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, {c}__nulls AS n_nulls, "
        f"{c}__distinct AS n_distinct, {c}__min AS min_value, "
        f"{c}__max AS max_value FROM w"
        for c in _PROFILE_COLS
    )
    return f"WITH w AS (SELECT {aggs} FROM orders) {sels}"


REGISTRY.update(
    {
        # -- round 4: TPC-H stragglers, CDC/profiling, composed dedup,
        # -- iterative ML -------------------------------------------------
        "q11_important_part_values": QuerySpec(
            relational.q11_important_part_values,
            """
            WITH per_part AS (
              SELECT l_partkey, SUM(l_extendedprice * l_quantity) AS value
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_7'
              GROUP BY l_partkey
            )
            SELECT l_partkey, ROUND(value, 2) AS value
            FROM per_part
            WHERE value > 0.001 * (SELECT SUM(value) FROM per_part)
            """,
            "TPC-H Q11 shape: group threshold vs global scalar aggregate",
            ("agg", "join"),
        ),
        "q20_excess_shipped_suppliers": QuerySpec(
            relational.q20_excess_shipped_suppliers,
            """
            WITH qualifying AS (
              SELECT l_suppkey
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'red %'
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
              GROUP BY l_suppkey, l_partkey
              HAVING SUM(l_quantity) > 60
            )
            SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS s_acctbal
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
              AND s_suppkey IN (SELECT l_suppkey FROM qualifying)
            """,
            "TPC-H Q20 shape: nested IN-subquery semi-join chain",
            ("join", "subquery"),
        ),
        "profile_orders_columns": QuerySpec(
            relational.profile_orders_columns,
            _profile_orders_oracle(),
            "per-column null/distinct/min/max data-quality profile",
            ("agg", "pipeline"),
        ),
        "orders_rfm_segments": QuerySpec(
        relational.rfm_segments,
        # quintile cuts from ONE exact-percentile agg (no global ntile
        # window); scores are cut comparisons on rounded values
        """
        WITH anchor AS (
          SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
        ),
        per AS (
          SELECT o_custkey AS c_custkey,
                 datediff('day', MAX(CAST(o_orderdate AS DATE)),
                          anchor.maxd) AS recency_days,
                 COUNT(*) AS frequency,
                 ROUND(SUM(o_totalprice), 2) AS monetary
          FROM orders CROSS JOIN anchor GROUP BY o_custkey, anchor.maxd
        ),
        cuts AS (
          SELECT
        """
        + ",\n            ".join(
            f"ROUND(quantile_cont({m}, {q}), 6) AS {m[0]}{i}"
            for m in ("recency_days", "frequency", "monetary")
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), 1)
        )
        + """
          FROM per
        ),
        scored AS (
          SELECT p.c_custkey, p.recency_days, p.frequency, p.monetary,
                 1 + CAST(p.recency_days < c.r1 AS INT)
                   + CAST(p.recency_days < c.r2 AS INT)
                   + CAST(p.recency_days < c.r3 AS INT)
                   + CAST(p.recency_days < c.r4 AS INT) AS r_score,
                 1 + CAST(p.frequency > c.f1 AS INT)
                   + CAST(p.frequency > c.f2 AS INT)
                   + CAST(p.frequency > c.f3 AS INT)
                   + CAST(p.frequency > c.f4 AS INT) AS f_score,
                 1 + CAST(p.monetary > c.m1 AS INT)
                   + CAST(p.monetary > c.m2 AS INT)
                   + CAST(p.monetary > c.m3 AS INT)
                   + CAST(p.monetary > c.m4 AS INT) AS m_score
          FROM per p CROSS JOIN cuts c
        )
        SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                  || CAST(m_score AS VARCHAR) AS segment
        FROM scored
        """,
        "RFM customer segmentation: population-quintile scores from "
        "one exact-percentile agg, no global ntile window",
        ("relational", "agg", "pipeline"),
    ),
    "merge_upsert_customer_balance": QuerySpec(
            relational.merge_upsert_customer_balance,
            """
            WITH changes AS (
              SELECT o_custkey AS custkey, SUM(o_totalprice) AS spend
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              GROUP BY o_custkey
            )
            SELECT COALESCE(c_custkey, custkey) AS custkey,
                   COALESCE(c_name, '<new>') AS name,
                   ROUND(COALESCE(c_acctbal, 0.0)
                         + COALESCE(spend, 0.0), 2) AS new_balance,
                   (custkey IS NOT NULL AND c_custkey IS NOT NULL)
                     AS was_updated,
                   (c_custkey IS NULL) AS was_inserted
            FROM customer FULL OUTER JOIN changes ON c_custkey = custkey
            """,
            "MERGE INTO (CDC upsert) as full-outer combine",
            ("join", "pipeline"),
        ),
        "dedup_canonical_corpus": QuerySpec(
            dedup.dedup_canonical_corpus,
            _CC_CTES
            + """,
            comp AS (SELECT id AS doc_id, MIN(r) AS component
                     FROM reach GROUP BY id)
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM comp c
                              WHERE c.doc_id = d.doc_id
                                AND c.doc_id != c.component)
            """,
            "composed dedup pipeline: corpus surviving near-dup removal",
            ("dedup", "pipeline"),
        ),
        "embedding_quantize": QuerySpec(
            vector.embedding_quantize,
            """
            WITH v AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
              FROM embeddings
            ),
            s AS (
              SELECT vec_id, emb,
                     CASE WHEN list_max(list_transform(emb, x -> abs(x))) = 0
                          THEN 1.0
                          ELSE 127.0 / list_max(list_transform(emb, x -> abs(x)))
                     END AS scale
              FROM v
            ),
            q AS (
              SELECT vec_id, emb, scale,
                     list_transform(emb,
                       x -> CAST(floor(x * scale + 0.5) AS INT)) AS qv
              FROM s
            )
            SELECT vec_id, ROUND(scale, 6) AS scale,
                   CAST(list_sum(list_transform(qv,
                     x -> CASE WHEN abs(x) = 127 THEN 1 ELSE 0 END)) AS INT)
                     AS n_saturated,
                   ROUND(sqrt(list_sum(list_transform(list_zip(emb, qv),
                     p -> (p[1] - p[2] / scale) * (p[1] - p[2] / scale)))
                     / len(emb)), 9) AS rms_error
            FROM q
            """,
            "int8 quantization audit (scale, saturation, reconstruction RMS)",
            ("vector", "pipeline"),
        ),
        "kmeans_clusters": QuerySpec(
            vector.kmeans_clusters,
            _kmeans_oracle(2),
            "k-means (2 unrolled Lloyd iterations, k=8) cluster fingerprints",
            ("vector", "iterative"),
        ),
        "kmeans_converged": QuerySpec(
            vector.kmeans_converged,
            # The production (convergence-driven) k-means: the oracle
            # unrolls the FULL measured trajectory (19 rounds to reach
            # tol=1e-4 on the sf0.01 embeddings — the trajectory is
            # deterministic, so the length is a constant of the data)
            # and pins the round count + convergence verdict as output
            # columns. If the engine's tol loop ever stops at a
            # different round, or stops converging, rounds/converged
            # (and almost surely the fingerprints) hash-mismatch.
            _kmeans_converged_oracle(
                vector.KMEANS_CONVERGED_ROUNDS[vector.KMEANS_GATE_SF]
            ),
            "convergence-driven k-means (tol=1e-4): fingerprints + "
            "hash-checked round count and convergence verdict",
            ("vector", "iterative"),
        ),
        "events_ewma_volume": QuerySpec(
            timeseries.events_ewma_volume,
            _ewma_oracle(),
            "truncated-EWMA (alpha=0.3, 14 taps) daily volume smoother "
            "with prior-trend spike flags",
            ("timeseries", "events", "window"),
        ),
        "events_multitouch_attribution": QuerySpec(
            timeseries.events_multitouch_attribution,
            """
            WITH touches AS (
              SELECT user_id, event_id AS touch_id, ts AS touch_ts
              FROM events WHERE event_type = 'click'
            ),
            conv AS (
              SELECT user_id, event_id AS conv_id, ts AS conv_ts, value
              FROM events WHERE event_type = 'purchase'
            ),
            j AS (
              SELECT t.touch_id, t.touch_ts, c.conv_id, c.value
              FROM conv c JOIN touches t USING (user_id)
              WHERE t.touch_ts < c.conv_ts
                AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY
            ),
            credited AS (
              SELECT date_trunc('day', touch_ts) AS touch_day, conv_id,
                     touch_id,
                     ROUND(value / (COUNT(*) OVER (PARTITION BY conv_id)), 9)
                       AS credit
              FROM j
            )
            SELECT touch_day, COUNT(*) AS n_touches,
                   CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
                   ROUND(list_sum(list(credit ORDER BY conv_id, touch_id)), 6)
                     AS attributed_value
            FROM credited GROUP BY touch_day
            """,
            "linear multi-touch attribution: purchase value split "
            "equally over the user's 7-day click history, by touch day",
            ("timeseries", "events", "join", "window"),
        ),
        "orders_activity_islands": QuerySpec(
            timeseries.orders_activity_islands,
            """
            WITH iv AS (
              SELECT o_custkey AS custkey,
                     CAST(o_orderdate AS DATE) AS "start",
                     CAST(o_orderdate AS DATE) + 30 AS "end"
              FROM orders
            ),
            marked AS (
              SELECT custkey, "start", "end",
                CASE WHEN "start" > COALESCE(
                       MAX("end") OVER (
                         PARTITION BY custkey ORDER BY "start", "end"
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       DATE '0001-01-01')
                     THEN 1 ELSE 0 END AS is_new
              FROM iv
            ),
            islands AS (
              SELECT custkey, "start", "end",
                     SUM(is_new) OVER (
                       PARTITION BY custkey ORDER BY "start", "end"
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island_id
              FROM marked
            ),
            per_island AS (
              SELECT custkey, island_id, MIN("start") AS i_start,
                     MAX("end") AS i_end, COUNT(*) AS n_orders
              FROM islands GROUP BY 1, 2
            )
            SELECT custkey, COUNT(*) AS n_islands,
                   CAST(SUM(n_orders) AS BIGINT) AS n_orders,
                   CAST(SUM(datediff('day', i_start, i_end)) AS BIGINT)
                     AS covered_days,
                   CAST(MAX(datediff('day', i_start, i_end)) AS INT)
                     AS longest_island_days
            FROM per_island GROUP BY custkey
            """,
            "interval coalescing: per-customer 30-day order-activity "
            "windows merged into islands (running-max span union)",
            ("timeseries", "window", "agg"),
        ),
        "docs_bigram_logprob": QuerySpec(
            pipeline.docs_bigram_logprob,
            f"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split({_NORM}, ' '),
                                 x -> x != '') AS words
              FROM documents
            ),
            bg AS (
              SELECT doc_id,
                     unnest([words[i] FOR i IN range(1, len(words))]) AS w1,
                     unnest([words[i+1] FOR i IN range(1, len(words))]) AS w2
              FROM w
            ),
            tf AS (
              SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3
            ),
            c12 AS (
              SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12
              FROM tf GROUP BY 1, 2
            ),
            c1 AS (SELECT w1, CAST(SUM(tf) AS BIGINT) AS c1 FROM tf GROUP BY 1),
            v AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS v FROM (
                SELECT DISTINCT w FROM (
                  SELECT w1 AS w FROM tf UNION ALL SELECT w2 FROM tf))
            ),
            t AS (
              SELECT doc_id, w1, w2, tf,
                     ROUND(tf * ln((c12 + 1) / (c1 + v)), 9) AS term
              FROM tf JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
            )
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                   ROUND(list_sum(list(term ORDER BY w1, w2)) / SUM(tf), 6)
                     AS avg_logprob
            FROM t GROUP BY doc_id
            """,
            "per-doc average bigram log-prob under the corpus's add-one "
            "smoothed bigram model (KenLM-style perplexity filter)",
            ("pipeline", "text"),
        ),
        "dq_expectations_orders": QuerySpec(
            relational.dq_expectations_orders,
            """
            WITH base AS (SELECT COUNT(*) AS n FROM orders),
            kg AS (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY 1),
            uniq AS (
              SELECT COUNT(*) AS n_checked,
                     CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS viol
              FROM kg
            ),
            agg AS (
              SELECT COUNT(*) AS n_checked,
                CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS k_null,
                CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                               OR o_totalprice > 10000000
                          THEN 1 ELSE 0 END) AS BIGINT) AS price_bad,
                CAST(SUM(CASE WHEN o_orderdate IS NULL
                               OR CAST(o_orderdate AS DATE) < DATE '1995-01-01'
                               OR CAST(o_orderdate AS DATE) > DATE '2001-12-31'
                          THEN 1 ELSE 0 END) AS BIGINT) AS date_bad,
                -- NULL status IS a domain violation (bare NOT IN is
                -- NULL for NULL input under 3VL and would under-count)
                CAST(SUM(CASE WHEN o_orderstatus IS NULL
                               OR o_orderstatus NOT IN ('O', 'F', 'P')
                          THEN 1 ELSE 0 END) AS BIGINT) AS status_bad
              FROM orders
            ),
            fk AS (
              SELECT (SELECT n FROM base) AS n_checked,
                     CAST(COUNT(*) AS BIGINT) AS orphans
              FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)
            )
            SELECT 'orderkey_unique' AS expectation,
                   CAST(n_checked AS BIGINT) AS n_checked,
                   viol AS n_violations, viol = 0 AS passed FROM uniq
            UNION ALL SELECT 'orderkey_not_null', n_checked, k_null,
                   k_null = 0 FROM agg
            UNION ALL SELECT 'custkey_fk_customer', CAST(n_checked AS BIGINT),
                   orphans, orphans = 0 FROM fk
            UNION ALL SELECT 'totalprice_in_range', n_checked, price_bad,
                   price_bad = 0 FROM agg
            UNION ALL SELECT 'orderdate_in_range', n_checked, date_bad,
                   date_bad = 0 FROM agg
            UNION ALL SELECT 'orderstatus_in_domain', n_checked, status_bad,
                   status_bad = 0 FROM agg
            """,
            "data-quality expectation suite over orders: PK uniqueness/"
            "not-null, FK to customer, range and domain checks",
            ("agg", "pipeline"),
        ),
        "customer_fuzzy_pairs": QuerySpec(
            linkage.customer_fuzzy_pairs,
            """
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   a.c_name AS name_a, b.c_name AS name_b,
                   CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_mktsegment = b.c_mktsegment
             AND len(a.c_name) = len(b.c_name)
             AND a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 1
            """,
            "entity resolution: blocked (nation x segment x length) "
            "customer-name pairs at edit distance <= 1",
            ("join", "text"),
        ),
        "sketch_distinct_overlap": QuerySpec(
            sketches.sketch_distinct_overlap,
            """
            WITH dd AS (SELECT DISTINCT o_orderstatus, o_custkey FROM orders),
            flags AS (
              SELECT o_custkey,
                MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS in_f,
                MAX(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS in_o,
                MAX(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS in_p
              FROM dd GROUP BY 1
            ),
            e AS (
              SELECT CAST(SUM(in_f) AS BIGINT) AS n_f,
                     CAST(SUM(in_o) AS BIGINT) AS n_o,
                     CAST(SUM(in_p) AS BIGINT) AS n_p,
                     CAST(SUM(in_f * in_o) AS BIGINT) AS n_fo,
                     CAST(SUM(in_f * in_p) AS BIGINT) AS n_fp,
                     CAST(SUM(in_o * in_p) AS BIGINT) AS n_op,
                     CAST(SUM(GREATEST(in_f, in_o)) AS BIGINT) AS u_fo,
                     CAST(SUM(GREATEST(in_f, in_p)) AS BIGINT) AS u_fp,
                     CAST(SUM(GREATEST(in_o, in_p)) AS BIGINT) AS u_op
              FROM flags
            )
            SELECT 'F' AS status_a, 'O' AS status_b, n_f AS n_a, n_o AS n_b,
                   u_fo AS n_union, n_fo AS n_overlap,
                   TRUE AS overlap_within_bound FROM e
            UNION ALL SELECT 'F', 'P', n_f, n_p, u_fp, n_fp, TRUE FROM e
            UNION ALL SELECT 'O', 'P', n_o, n_p, u_op, n_op, TRUE FROM e
            """,
            "segment-overlap cardinality from mergeable HLL sketches via "
            "inclusion-exclusion, audited against the exact overlap",
            ("sketch", "agg"),
        ),
        "embedding_random_projection": QuerySpec(
            vector.embedding_random_projection,
            _rp_oracle(),
            "JL random projection 64->16 (seeded Gaussian planes) with "
            "per-vector norm-preservation audit",
            ("vector", "pipeline"),
        ),
        "customer_golden_records": QuerySpec(
            linkage.customer_golden_records,
            # fuzzy blocks -> symmetric edges -> recursive transitive
            # closure (component = min reachable id) -> survivorship:
            # highest balance, ties to lowest key
            """
            WITH RECURSIVE pairs AS (
              SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
              FROM customer a JOIN customer b
                ON a.c_nationkey = b.c_nationkey
               AND a.c_mktsegment = b.c_mktsegment
               AND len(a.c_name) = len(b.c_name)
               AND a.c_custkey < b.c_custkey
              WHERE levenshtein(a.c_name, b.c_name) <= 1
            ),
            edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.id
            ),
            comp AS (SELECT id AS node, MIN(r) AS component
                     FROM reach GROUP BY id),
            m AS (SELECT c.component, c.node, cu.c_acctbal AS bal
                  FROM comp c JOIN customer cu ON cu.c_custkey = c.node),
            surv AS (
              SELECT component, node AS survivor_id, bal AS survivor_bal
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY bal DESC, node) AS rn FROM m)
              WHERE rn = 1
            )
            SELECT m.component AS entity_id,
                   COUNT(*) AS n_members,
                   CAST(SUM(m.node) AS BIGINT) AS member_id_sum,
                   ANY_VALUE(s.survivor_id) AS survivor_id,
                   ROUND(ANY_VALUE(s.survivor_bal), 2) AS survivor_balance,
                   ROUND(SUM(m.bal), 2) AS total_balance
            FROM m JOIN surv s USING (component)
            GROUP BY m.component
            """,
            "golden-record MDM resolution: fuzzy-match components with "
            "highest-balance survivorship",
            ("join", "text", "graph"),
        ),
        "lineitem_price_ols": QuerySpec(
            stats.lineitem_price_ols,
            _OLS_ORACLE,
            "per-returnflag OLS regression of extended price on quantity "
            "(explicit moment formulas, one aggregation pass)",
            ("stats", "agg"),
        ),
        "lineitem_logreg_returns": QuerySpec(
            stats.lineitem_logreg_returns,
            _logreg_oracle(),  # GD trajectory unrolled: one CTE per
            # step re-derives ROUND(w - lr*ROUND(mean_grad, 9), 9)
            "logistic regression of returnflag='R' on scaled "
            "quantity/discount/price: 3 full-batch GD steps, "
            "weights + accuracy + log-loss hash-checked",
            ("stats", "iterative"),
        ),
        "lineitem_logreg_auc": QuerySpec(
            stats.lineitem_logreg_auc,
            _logreg_auc_oracle(),  # shared trajectory CTEs + identical
            # fixed-bin cumulative-histogram rank arithmetic
            "binned-ROC evaluation of the trained logreg model: "
            "AUC / Gini / KS from a 1024-bin score histogram "
            "(the bounded-histogram shape — no global rank over rows)",
            ("stats", "pipeline"),
        ),
        "lineitem_logreg_calibration": QuerySpec(
            stats.lineitem_logreg_calibration,
            _logreg_calibration_oracle(),
            "10-bin reliability table of the trained logreg model: "
            "mean predicted probability vs empirical positive rate",
            ("stats", "pipeline"),
        ),
        "lineitem_chi2_flags": QuerySpec(
            stats.lineitem_chi2_flags,
            """
            WITH obs AS (
              SELECT l_returnflag, l_linestatus,
                     CAST(COUNT(*) AS BIGINT) AS observed
              FROM lineitem
              WHERE l_returnflag IS NOT NULL
                AND l_linestatus IS NOT NULL
              GROUP BY 1, 2
            ),
            -- full R x S scaffold: absent combos still contribute
            -- (0-e)^2/e = e to Pearson's statistic (mirrors the
            -- engine's zero-cell materialization)
            cells AS (
              SELECT r.l_returnflag, c.l_linestatus,
                     CAST(COALESCE(o.observed, 0) AS BIGINT) AS observed
              FROM (SELECT DISTINCT l_returnflag FROM obs) r
              CROSS JOIN (SELECT DISTINCT l_linestatus FROM obs) c
              LEFT JOIN obs o
                ON o.l_returnflag = r.l_returnflag
               AND o.l_linestatus = c.l_linestatus
            ),
            ext AS (
              SELECT l_returnflag, l_linestatus, observed,
                     CAST(SUM(observed) OVER (PARTITION BY l_returnflag)
                          AS DOUBLE)
                     * CAST(SUM(observed) OVER (PARTITION BY l_linestatus)
                            AS DOUBLE)
                     / CAST(SUM(observed) OVER () AS DOUBLE) AS e,
                     CAST(SUM(observed) OVER () AS BIGINT) AS n_rows
              FROM cells
            ),
            dims AS (
              SELECT CAST(COUNT(DISTINCT l_returnflag) AS INT) AS r,
                     CAST(COUNT(DISTINCT l_linestatus) AS INT) AS s
              FROM cells
            ),
            c AS (
              SELECT *,
                     ROUND((observed - e) * (observed - e) / e, 9)
                       AS contrib9
              FROM ext
            ),
            t AS (SELECT SUM(contrib9) AS chi2_raw FROM c)
            SELECT c.l_returnflag, c.l_linestatus, c.observed,
                   ROUND(c.e, 6) AS expected,
                   ROUND(c.contrib9, 6) AS contrib,
                   ROUND(t.chi2_raw, 6) AS chi2,
                   (d.r - 1) * (d.s - 1) AS dof,
                   CASE WHEN LEAST(d.r - 1, d.s - 1) > 0 THEN
                     ROUND(SQRT(t.chi2_raw
                                / (CAST(c.n_rows AS DOUBLE)
                                   * LEAST(d.r - 1, d.s - 1))), 6) END
                     AS cramers_v,
                   c.n_rows
            FROM c CROSS JOIN dims d CROSS JOIN t
            ORDER BY 1, 2
            """,
            "chi-square independence test (returnflag x linestatus) "
            "with per-cell contributions, dof and Cramer's V — one "
            "data scan, all totals derived on the cell frame",
            ("stats", "agg"),
        ),
        "lineitem_corr_matrix": QuerySpec(
            stats.lineitem_corr_matrix,
            _corr_matrix_oracle(
                "lineitem",
                ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            ),
            "pairwise Pearson correlation over lineitem's numeric "
            "measures from one moment aggregation",
            ("stats", "agg"),
        ),
        "orders_bootstrap_ci": QuerySpec(
        stats.orders_bootstrap_ci,
        _bootstrap_ci_oracle(),
        "95% Poisson-bootstrap CI of mean order value per priority "
        "(40 deterministic md5-seeded replicates, exact "
        "order-statistic trim — one-pass distribution-free "
        "uncertainty at any scale)",
        ("stats", "agg"),
    ),
    "segment_balance_ttest": QuerySpec(
            stats.segment_balance_ttest,
            _TTEST_ORACLE,
            "Welch two-sample t-test of account balance, BUILDING vs "
            "MACHINERY (conditional-moment single pass)",
            ("stats", "agg"),
        ),
        "source_csv_gzip_roundtrip": QuerySpec(
            roundtrip.source_csv_gzip_roundtrip,
            roundtrip.CSV_GZIP_ROUNDTRIP_ORACLE,
            "customer -> gzip CSV -> schema read-back -> per-segment "
            "aggregate (compressed-codec connector lane)",
            ("source",),
        ),
        "orders_modal_priority": QuerySpec(
            stats.orders_modal_priority,
            """
            WITH c AS (
              -- conventional MODE: NULL values are not modal
              -- candidates and don't count toward the share
              -- denominator (mirrors stats.grouped_mode's pre-filter)
              SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
              FROM orders WHERE o_orderpriority IS NOT NULL
              GROUP BY 1, 2
            ),
            r AS (
              SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                       ORDER BY n DESC, o_orderpriority) AS rn,
                     SUM(n) OVER (PARTITION BY o_orderstatus) AS tot
              FROM c
            )
            SELECT o_orderstatus, o_orderpriority AS modal_value,
                   n AS modal_count, ROUND(n / CAST(tot AS DOUBLE), 6)
                     AS modal_share
            FROM r WHERE rn = 1
            """,
            "grouped MODE with deterministic tie-break (count desc, "
            "value asc) plus count and share",
            ("stats", "agg"),
        ),
        "docs_training_manifest": QuerySpec(
            pipeline.docs_training_manifest,
            _training_manifest_oracle(),
            "end-to-end corpus build: quality gate + near-dup survivor "
            "+ decontamination + split composed into one manifest",
            ("pipeline", "dedup", "text"),
        ),
        "events_ewma_calendar": QuerySpec(
            timeseries.events_ewma_calendar,
            _ewma_oracle(calendar=True),
            "calendar-decay EWMA: zero-filled day spine composed with "
            "the weighted lag chain (gap-correct trend)",
            ("timeseries",),
        ),
        "orders_winsorized_stats": QuerySpec(
            relational.orders_winsorized_stats,
            """
            WITH cuts AS (
              SELECT o_orderpriority,
                     quantile_cont(o_totalprice, 0.01) AS plo,
                     quantile_cont(o_totalprice, 0.99) AS phi
              FROM orders GROUP BY o_orderpriority
            )
            SELECT o.o_orderpriority,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN o.o_totalprice < c.plo
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
                   CAST(SUM(CASE WHEN o.o_totalprice > c.phi
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
                   ROUND(MIN(c.plo), 4) AS p_lo,
                   ROUND(MAX(c.phi), 4) AS p_hi,
                   ROUND(AVG(GREATEST(c.plo, LEAST(c.phi, o.o_totalprice))),
                         4) AS winsorized_mean,
                   ROUND(SUM(GREATEST(c.plo, LEAST(c.phi, o.o_totalprice))),
                         2) AS winsorized_sum
            FROM orders o JOIN cuts c USING (o_orderpriority)
            GROUP BY o.o_orderpriority
            """,
            "winsorized stats: exact p01/p99 clipping with robust "
            "mean/sum and out-of-band counts per priority",
            ("relational", "agg", "stats"),
        ),
        "dedup_minhash_estimate": QuerySpec(
            dedup.dedup_minhash_estimate,
            _minhash_estimate_oracle(),
            "MinHash Jaccard estimator (k=64) vs exact shingle Jaccard "
            "per LSH candidate, 4-sigma envelope audited in-plan",
            ("dedup", "sketch"),
        ),
        "orders_part_cooccurrence": QuerySpec(
            relational.orders_part_cooccurrence,
            """
            WITH items AS (
              SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
            ),
            pairs AS (
              SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_orders
              FROM items a JOIN items b
                ON a.o = b.o AND a.i < b.i
              GROUP BY 1, 2
            )
            SELECT item_a, item_b, n_orders,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_orders DESC,
                        item_a, item_b) AS INT) AS rank
            FROM pairs
            ORDER BY n_orders DESC, item_a, item_b LIMIT 50
            """,
            "market-basket co-occurrence: top part pairs per order "
            "(A-Priori candidate step, basket-bounded self-join)",
            ("agg", "join", "pipeline"),
        ),
        "scalar_try_battery": QuerySpec(
            relational.scalar_try_battery,
            """
            SELECT o_orderkey,
                   ROUND(CASE WHEN o_custkey % 3 = 0 THEN NULL
                         ELSE o_totalprice / CAST(o_custkey % 3 AS DOUBLE)
                         END, 6) AS try_div,
                   CASE WHEN o_orderkey = 0
                        THEN CAST(9223372036854775807 AS BIGINT)
                        ELSE CAST(NULL AS BIGINT) END AS try_add_overflow,
                   CASE CAST(o_orderkey % 4 AS BIGINT)
                        WHEN 0 THEN CAST(0 AS BIGINT)
                        WHEN 1 THEN CAST(4611686018427387904 AS BIGINT)
                        ELSE CAST(NULL AS BIGINT) END AS try_mul,
                   TRY_CAST(o_orderpriority AS INTEGER) AS try_cast_full,
                   TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER)
                     AS try_cast_prefix,
                   ([10, 20, 30])[CAST(o_orderkey % 5 + 1 AS INT)]
                     AS try_elem
            FROM orders WHERE o_orderkey % 11 = 0
            """,
            "ANSI-safe TRY_* arithmetic: zero divide, bigint overflow, "
            "bad casts, out-of-bounds element_at -> NULL not raise",
            ("scalar", "relational"),
        ),
        "window_distribution_battery": QuerySpec(
            relational.window_distribution_battery,
            """
            SELECT o_custkey, o_orderkey,
                   ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
                   ROUND(CUME_DIST() OVER w, 9) AS cume,
                   FIRST_VALUE(o_orderkey) OVER wf AS first_order,
                   LAST_VALUE(o_orderkey) OVER wf AS last_order,
                   NTH_VALUE(o_orderkey, 2) OVER wf AS second_order
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey),
                   wf AS (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
            """,
            "percent_rank/cume_dist + first/last/nth_value over the "
            "full partition frame",
            ("window", "relational"),
        ),
        "events_sequence_patterns": QuerySpec(
            timeseries.events_sequence_patterns,
            """
            WITH s AS (
              SELECT user_id, COUNT(*) AS n_events,
                     array_to_string(
                       list(event_type ORDER BY ts, event_id), ' ') AS seq
              FROM events GROUP BY user_id
            )
            SELECT user_id, n_events,
                   CAST(len(regexp_extract_all(
                     seq, 'view click purchase')) AS INT) AS n_contiguous,
                   regexp_matches(seq, 'view.*click.*purchase') AS has_gapped
            FROM s
            """,
            "sequence pattern mining: contiguous run counts + gapped "
            "subsequence over ordered per-user event strings",
            ("timeseries", "text"),
        ),
        "vocab_bpe_train": QuerySpec(
            text.vocab_bpe_train,
            _bpe_train_oracle(),
            "iterative BPE training: 6 applied merge rounds with the "
            "post-merge corpus symbol count hash-checked per round",
            ("text", "pipeline", "iterative"),
        ),
        "docs_neardup_bfs": QuerySpec(
            dedup.docs_neardup_bfs,
            _CC_CTES
            + f""",
            comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
            bfs(id, hops) AS (
              SELECT DISTINCT component, 0 FROM comp
              UNION
              SELECT e.v, b.hops + 1
              FROM bfs b JOIN edges e ON e.u = b.id
              WHERE b.hops < {dedup.BFS_MAX_HOPS}
            )
            SELECT id AS doc_id, CAST(MIN(hops) AS INT) AS hops
            FROM bfs GROUP BY id
            """,
            "multi-source BFS: hop distance from each near-dup cluster's "
            "canonical doc to every member",
            ("dedup", "graph"),
        ),
    }
)


# ---------------------------------------------------------------------------
# Round-11 entries: histogram-split tree trainers, bounded per-group
# reservoir sampling, rate-limited streaming backfill.
# ---------------------------------------------------------------------------

#: One definition table (stats.STUMP_BINS), two renderings: the oracle
#: bin expressions are generated from the same tuple the Spark
#: operator binds, so the binning arithmetic cannot diverge.
_STUMP_BIN_SQL = {
    name: stats.stump_bin_sql(col, op, k)
    for name, col, op, k in stats.STUMP_BINS
}

def _stump_ctes(base_cte: str | None = None, seg: bool = False) -> str:
    """Shared level-1 CTE chain: binned base -> per-(feature, bin)
    label histogram -> cumulative prefix counts -> candidate-split
    Gini gains (stats.gini_gain_sql() mirrors the Spark expression
    term-for-term). ``base_cte`` swaps the bin definition — the
    oracle-side twin of the trainers' ``binned`` parameter.
    ``seg=True`` threads a segment key the base CTE must carry
    through every group-by and window (the grouped-trainer twin)."""
    s = "seg, " if seg else ""
    sp = "PARTITION BY seg, " if seg else "PARTITION BY "
    base = (
        base_cte
        if base_cte is not None
        else f"""base AS (
  SELECT {_STUMP_BIN_SQL["qty"]} AS b_qty,
         {_STUMP_BIN_SQL["disc"]} AS b_disc,
         {_STUMP_BIN_SQL["price"]} AS b_price,
         {stats._STUMP_LABEL_SQL} AS y
  FROM lineitem
)"""
    )
    return f"""
{base},
pairs AS (
  SELECT {s}'qty' AS feature, b_qty AS bin, y FROM base
  UNION ALL SELECT {s}'disc', b_disc, y FROM base
  UNION ALL SELECT {s}'price', b_price, y FROM base
),
hist AS (
  SELECT {s}feature, bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM pairs GROUP BY {s}feature, bin
),
cum AS (
  SELECT {s}feature, bin AS split_bin,
         SUM(n) OVER ({sp}feature ORDER BY bin) AS nl,
         SUM(pos) OVER ({sp}feature ORDER BY bin) AS posl,
         SUM(n) OVER ({sp}feature) AS nt,
         SUM(pos) OVER ({sp}feature) AS post
  FROM hist
),
gains AS (
  SELECT {s}feature, split_bin,
         CAST(nl AS BIGINT) AS n_left, CAST(posl AS BIGINT) AS pos_left,
         CAST(nt - nl AS BIGINT) AS n_right,
         CAST(post - posl AS BIGINT) AS pos_right,
         {stats.gini_gain_sql()} AS gain
  FROM cum WHERE nl < nt
)
"""


_STUMP_CTES = _stump_ctes()

def _tree_tail_sql(seg: bool = False) -> str:
    """The depth-2 tree's level-2 CTE tail (root election, row
    routing, per-child histogram split search) — shared by the
    fixed-bin and quantile-binned tree oracles (only the base CTE in
    the level-1 chain differs). ``seg=True`` renders the PER-SEGMENT
    form: the key partitions the root election, keys the routing
    join, and rides every level-2 group-by and window — the
    grouped-``tree_depth2`` twin."""
    s = "seg, " if seg else ""
    root_join = (
        "FROM base JOIN root ON root.seg = base.seg"
        if seg
        else "FROM base, root"
    )
    rootpart = "PARTITION BY seg " if seg else ""
    return f"""root AS (
              SELECT {s}root_feature, root_bin
              FROM (SELECT {s}feature AS root_feature,
                      split_bin AS root_bin,
                      ROW_NUMBER() OVER ({rootpart}
                        ORDER BY gain DESC, feature, split_bin) AS rg
                    FROM gains)
              WHERE rg = 1
            ),
            leafed AS (
              SELECT {("base.seg AS seg, " if seg else "")}CASE WHEN (root_feature = 'qty' AND b_qty <= root_bin)
                           OR (root_feature = 'disc' AND b_disc <= root_bin)
                           OR (root_feature = 'price' AND b_price <= root_bin)
                      THEN 'L' ELSE 'R' END AS node,
                     root_feature, root_bin, b_qty, b_disc, b_price, y
              {root_join}
            ),
            pairs2 AS (
              SELECT {s}node, root_feature, root_bin,
                     'qty' AS feature, b_qty AS bin, y FROM leafed
              UNION ALL SELECT {s}node, root_feature, root_bin,
                     'disc', b_disc, y FROM leafed
              UNION ALL SELECT {s}node, root_feature, root_bin,
                     'price', b_price, y FROM leafed
            ),
            hist2 AS (
              SELECT {s}node, root_feature, root_bin, feature, bin,
                     COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
              FROM pairs2
              GROUP BY {s}node, root_feature, root_bin, feature, bin
            ),
            cum2 AS (
              SELECT {s}node, root_feature, root_bin, feature,
                     bin AS split_bin,
                     SUM(n) OVER (PARTITION BY {s}node, root_feature,
                       root_bin, feature ORDER BY bin) AS nl,
                     SUM(pos) OVER (PARTITION BY {s}node, root_feature,
                       root_bin, feature ORDER BY bin) AS posl,
                     SUM(n) OVER (PARTITION BY {s}node, root_feature,
                       root_bin, feature) AS nt,
                     SUM(pos) OVER (PARTITION BY {s}node, root_feature,
                       root_bin, feature) AS post
              FROM hist2
            ),
            gains2 AS (
              SELECT {s}node, root_feature, root_bin, feature, split_bin,
                     CAST(nl AS BIGINT) AS n_left,
                     CAST(posl AS BIGINT) AS pos_left,
                     CAST(nt - nl AS BIGINT) AS n_right,
                     CAST(post - posl AS BIGINT) AS pos_right,
                     {stats.gini_gain_sql()} AS gain
              FROM cum2 WHERE nl < nt
            )
            SELECT {s}node, root_feature, root_bin, feature, split_bin,
                   n_left, pos_left, n_right, pos_right, gain
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY {s}node
                    ORDER BY gain DESC, feature, split_bin) AS rn
                  FROM gains2)
            WHERE rn = 1"""


_TREE_TAIL_SQL = _tree_tail_sql()


def _backfill_oracle(n_spans: int) -> str:
    """Watermark-lag trajectory oracle, generated for the live span
    count: wm_i = ms-floored max event time of spans < i, minus the
    1 h delay (the EventTimeWatermarkExec contract probed and pinned
    by test_backfill_emission_contract); a window is emitted by the
    FIRST batch whose watermark reaches its end; span arithmetic
    replicates stateful.stage_session_spans (step = (hi-lo)//N + 1)."""
    wm_defs = ",\n         ".join(
        f"date_trunc('milliseconds', MAX(ts) FILTER (WHERE epoch_us(ts) "
        f"< lo + {i} * ((hi - lo) // {n_spans} + 1))) "
        f"- INTERVAL 1 HOUR AS wm{i}"
        for i in range(1, n_spans)
    )
    wm_defs += (",\n         " if n_spans > 1 else "") + (
        f"date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS wm{n_spans}"
    )
    emitted = (
        "CASE "
        + " ".join(
            f"WHEN window_end <= wm{i} THEN {i}"
            for i in range(1, n_spans + 1)
        )
        + " END"
    )
    wm_at = (
        "CASE "
        + " ".join(
            f"WHEN window_end <= wm{i} THEN wm{i}"
            for i in range(1, n_spans + 1)
        )
        + " END"
    )
    return f"""
WITH b AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
wm AS (
  SELECT {wm_defs}
  FROM events, b
),
w AS (
  SELECT date_trunc('hour', ts) AS window_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, n_events,
       {emitted} AS emitted_in_batch,
       epoch_ms({wm_at}) - epoch_ms(window_end) AS lag_ms
FROM w, wm
WHERE window_end <= wm{n_spans}
"""


REGISTRY.update(
    {
        "lineitem_stump_gini": QuerySpec(
            stats.lineitem_stump_gini,
            f"""
            WITH {_STUMP_CTES}
            SELECT feature, split_bin, n_left, pos_left,
                   n_right, pos_right, gain, (rg = 1) AS is_root
            FROM (SELECT *,
                    ROW_NUMBER() OVER (PARTITION BY feature
                      ORDER BY gain DESC, split_bin) AS rf,
                    ROW_NUMBER() OVER (
                      ORDER BY gain DESC, feature, split_bin) AS rg
                  FROM gains)
            WHERE rf = 1
            """,
            "histogram-split decision stump: best Gini split per fixed "
            "16-bin feature (global root flagged) from one scan's "
            "map-side partial label histograms",
            ("stats", "model", "lineitem"),
        ),
        "lineitem_tree_depth2": QuerySpec(
            stats.lineitem_tree_depth2,
            f"""
            WITH {_STUMP_CTES},
            {_TREE_TAIL_SQL}
            """,
            "greedy depth-2 histogram tree: root split + per-child "
            "splits carrying the four leaf populations, one data scan "
            "per level (root joined in as a broadcast scalar)",
            ("stats", "model", "lineitem"),
        ),
        "docs_group_reservoir": QuerySpec(
            pipeline.docs_group_reservoir,
            f"""
            SELECT lang, rank_in_group, doc_id, n_chars
            FROM (SELECT lang, doc_id, n_chars,
                    ROW_NUMBER() OVER (PARTITION BY lang
                      ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)),
                               doc_id) AS rank_in_group
                  FROM documents)
            WHERE rank_in_group <= {pipeline.RESERVOIR_K}
            """,
            "deterministic per-group reservoir sample: exactly "
            "min(k, |group|) docs per language via rank-over-hash, "
            "map-side WindowGroupLimit bounds the shuffle at "
            "O(groups x k)",
            ("pipeline", "sampling", "documents"),
        ),
        "streaming_backfill_lag": QuerySpec(
            stream_windows.streaming_backfill_lag,
            _backfill_oracle(stream_stateful.SESSION_SPAN_FILES),
            "rate-limited backfill (maxFilesPerTrigger=1 over the "
            "staged event spans): per finalized hourly window, the "
            "emitting micro-batch and the watermark lag at emission, "
            "cross-checked against the runtime's own progress "
            "telemetry",
            ("events", "streaming"),
        ),
        "orders_scd2_priority": QuerySpec(
            relational.orders_scd2_priority,
            """
            WITH changes AS (
              SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
                     LAG(o_orderpriority) OVER w AS prev
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)
            )
            SELECT o_custkey,
                   ROW_NUMBER() OVER w2 AS version,
                   o_orderpriority,
                   o_orderdate AS valid_from,
                   LEAD(o_orderdate) OVER w2 AS valid_to,
                   (LEAD(o_orderdate) OVER w2 IS NULL) AS is_current
            FROM changes
            WHERE prev IS NULL OR o_orderpriority != prev
            WINDOW w2 AS (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey)
            """,
            "type-2 SCD history build: keyed update stream -> "
            "versioned [valid_from, valid_to) intervals + current "
            "flag, no-change updates collapsed, one shuffle on the key",
            ("relational", "window", "orders"),
        ),
        "docs_weighted_reservoir": QuerySpec(
            pipeline.docs_weighted_reservoir,
            f"""
            SELECT lang, rank_in_group, doc_id, weight, n_chars
            FROM (
              SELECT lang, doc_id, weight, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY pri, doc_id) AS rank_in_group
              FROM (
                SELECT lang, doc_id, n_chars,
                       1 + LEAST({pipeline.WEIGHT_CLASS_CAP},
                         CAST(FLOOR(n_chars / CAST({pipeline.WEIGHT_CLASS_CHARS} AS DOUBLE))
                              AS INT)) AS weight,
                       list_min(list_transform(
                         range(1, 2 + LEAST({pipeline.WEIGHT_CLASS_CAP},
                           CAST(FLOOR(n_chars / CAST({pipeline.WEIGHT_CLASS_CHARS} AS DOUBLE))
                                AS INT))),
                         j -> md5('wrsv:' || CAST(doc_id AS VARCHAR)
                                  || ':' || CAST(j AS VARCHAR))
                       )) AS pri
                FROM documents)
            )
            WHERE rank_in_group <= {pipeline.WEIGHTED_RESERVOIR_K}
            """,
            "weighted per-group reservoir: min-of-w-hash-keys priority "
            "(exact integer-weight Efraimidis-Spirakis, no "
            "transcendentals), WindowGroupLimit-bounded output",
            ("pipeline", "sampling", "documents"),
        ),
    }
)


# Gradient-boosted stumps: the repeated stage-2 residual-sum fragments
# are built once here so the left/total/right expressions cannot drift
# apart inside the long oracle (they appear 6 times); shrinkage is the
# module constant rendered as an exact-double CAST.
_GBT_NU = f"CAST({stats.GBT_SHRINKAGE} AS DOUBLE)"
_GBT_R2L = f"((posl - nl*ybar) - {_GBT_NU}*(nl1l*g_l + (nl - nl1l)*g_r))"
_GBT_R2T = f"((post - nt*ybar) - {_GBT_NU}*(nl1t*g_l + (nt - nl1t)*g_r))"
_GBT_R2R = f"({_GBT_R2T} - {_GBT_R2L})"
_GBT_CARRY = (
    "root_feature, root_bin, n_left_1, n_right_1, score_1, g_l, g_r, ybar"
)

REGISTRY.update(
    {
        "lineitem_gbt_stages": QuerySpec(
            stats.lineitem_gbt_stages,
            f"""
            WITH {_STUMP_CTES},
            s1 AS (
              SELECT feature, split_bin,
                     CAST(nl AS BIGINT) AS nl, CAST(nt AS BIGINT) AS nt,
                     ROUND(((posl - nl*(post/nt))*(posl - nl*(post/nt)))/nl
                         + (((post - posl) - (nt - nl)*(post/nt))
                            *((post - posl) - (nt - nl)*(post/nt)))/(nt - nl),
                       9) AS score,
                     (posl - nl*(post/nt))/nl AS g_l,
                     ((post - posl) - (nt - nl)*(post/nt))/(nt - nl) AS g_r,
                     post/nt AS ybar
              FROM cum WHERE nl < nt
            ),
            r1 AS (
              SELECT feature AS root_feature, split_bin AS root_bin,
                     nl AS n_left_1, nt - nl AS n_right_1, score AS score_1,
                     g_l, g_r, ybar
              FROM (SELECT *, ROW_NUMBER() OVER (
                      ORDER BY score DESC, feature, split_bin) AS rg
                    FROM s1)
              WHERE rg = 1
            ),
            staged AS (
              SELECT {_GBT_CARRY},
                     CASE WHEN (root_feature = 'qty' AND b_qty <= root_bin)
                           OR (root_feature = 'disc' AND b_disc <= root_bin)
                           OR (root_feature = 'price' AND b_price <= root_bin)
                      THEN 1 ELSE 0 END AS l1,
                     b_qty, b_disc, b_price, y
              FROM base, r1
            ),
            pairs2 AS (
              SELECT {_GBT_CARRY},
                     'qty' AS feature, b_qty AS bin, y, l1 FROM staged
              UNION ALL SELECT {_GBT_CARRY},
                     'disc', b_disc, y, l1 FROM staged
              UNION ALL SELECT {_GBT_CARRY},
                     'price', b_price, y, l1 FROM staged
            ),
            hist2 AS (
              SELECT {_GBT_CARRY}, feature, bin,
                     COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos,
                     CAST(SUM(l1) AS BIGINT) AS nl1
              FROM pairs2
              GROUP BY {_GBT_CARRY}, feature, bin
            ),
            cum2 AS (
              SELECT {_GBT_CARRY}, feature, bin AS split_bin,
                     SUM(n) OVER (PARTITION BY feature ORDER BY bin) AS nl,
                     SUM(pos) OVER (PARTITION BY feature ORDER BY bin) AS posl,
                     SUM(n) OVER (PARTITION BY feature) AS nt,
                     SUM(pos) OVER (PARTITION BY feature) AS post,
                     SUM(nl1) OVER (PARTITION BY feature ORDER BY bin) AS nl1l,
                     SUM(nl1) OVER (PARTITION BY feature) AS nl1t
              FROM hist2
            ),
            s2 AS (
              SELECT {_GBT_CARRY}, feature, split_bin,
                     CAST(nl AS BIGINT) AS nl, CAST(nt AS BIGINT) AS nt,
                     ROUND(({_GBT_R2L}*{_GBT_R2L})/nl
                         + ({_GBT_R2R}*{_GBT_R2R})/(nt - nl), 9) AS score,
                     {_GBT_R2L}/nl AS g2_l,
                     {_GBT_R2R}/(nt - nl) AS g2_r
              FROM cum2 WHERE nl < nt
            ),
            r2 AS (
              SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
                      ORDER BY score DESC, feature, split_bin) AS rg
                    FROM s2)
              WHERE rg = 1
            )
            SELECT 1 AS stage, root_feature AS feature,
                   root_bin AS split_bin,
                   n_left_1 AS n_left, n_right_1 AS n_right,
                   ROUND(g_l, 9) AS gamma_left,
                   ROUND(g_r, 9) AS gamma_right,
                   score_1 AS score
            FROM r2
            UNION ALL
            SELECT 2, feature, split_bin, nl, nt - nl,
                   ROUND(g2_l, 9), ROUND(g2_r, 9), score
            FROM r2
            """,
            "two gradient-boosting stages of histogram stumps under "
            "squared loss (shrinkage 0.5): residual bin sums in closed "
            "form over histogram integers — one scan per stage, the "
            "exactly-replayable GBDT loop",
            ("stats", "model", "lineitem", "iterative"),
        ),
        "streaming_upsert_latest": QuerySpec(
            stream_windows.streaming_upsert_latest,
            """
            SELECT user_id, COUNT(*) AS n_events,
                   MIN(ts) AS first_ts, MAX(ts) AS last_ts
            FROM events GROUP BY user_id
            """,
            "foreachBatch MERGE-upsert sink: a rate-limited stream "
            "maintains a keyed parquet latest-table via versioned "
            "idempotent merges (batch e reads v=e-1, overwrites v=e); "
            "final table must equal the one-shot batch aggregate",
            ("events", "streaming", "sink"),
        ),
    }
)


def _qtl_fine_sql(col: str, width: float) -> str:
    """Oracle rendering of the quantile family's equi-width fine bin
    (``stats._qtl_fine``) — one definition, two mechanical
    renderings."""
    return (
        f"GREATEST(0, LEAST({stats.N_QTL_FINE - 1}, "
        f"CAST(FLOOR(CAST({col} AS DOUBLE) / {width}) AS INT)))"
    )


def _quantile_binned_base_cte(seg_sql: str | None = None) -> str:
    """The ``base`` CTE chain for the quantile-binned GBT: per-feature
    ``(fb, bucket)`` equi-depth maps (the quantile closed form) joined
    back to each row's fine bin — mirrors
    ``stats._quantile_stump_binned`` exactly. ``seg_sql`` (a column
    expression, e.g. ``l_linestatus``) renders the PER-SEGMENT form
    from the same template: the segment key groups each fine
    histogram, partitions the rank windows, and keys the map joins —
    grouped ``quantile_bucket_map`` term for term."""
    sel = "seg, " if seg_sql else ""
    part = "PARTITION BY seg " if seg_sql else ""
    segdef = f"{seg_sql} AS seg, " if seg_sql else ""
    parts = []
    joins = []
    row_sel = []
    for name, col, w in stats.QSTUMP_FEATURES:
        parts.append(
            f"""qh_{name} AS (
      SELECT {segdef}{_qtl_fine_sql(col, w)} AS fb, COUNT(*) AS n
      FROM lineitem GROUP BY {sel}fb
    ),
    qm_{name} AS (
      SELECT {sel}fb, LEAST({stats.N_QTL_BUCKETS - 1},
               CAST(((cum - n) * {stats.N_QTL_BUCKETS}) // nt
                    AS INT)) AS bucket
      FROM (SELECT {sel}fb, n,
                   SUM(n) OVER ({part}ORDER BY fb ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS cum,
                   SUM(n) OVER ({part}) AS nt
            FROM qh_{name})
    )"""
        )
        row_sel.append(f"{_qtl_fine_sql(col, w)} AS fb_{name}")
        joins.append(
            f"JOIN qm_{name} m_{name} ON "
            + (f"m_{name}.seg = r.seg AND " if seg_sql else "")
            + f"m_{name}.fb = r.fb_{name}"
        )
    bucket_sel = ", ".join(
        f"m_{name}.bucket AS b_{name}"
        for name, *_ in stats.QSTUMP_FEATURES
    )
    glue = ",\n    "
    return f"""{glue.join(parts)},
    base AS (
      SELECT {"r.seg, " if seg_sql else ""}{bucket_sel}, r.y
      FROM (SELECT {segdef}{", ".join(row_sel)},
                   {stats._STUMP_LABEL_SQL} AS y
            FROM lineitem) r
      {" ".join(joins)}
    )"""


def _upsert_retention_oracle() -> str:
    """Oracle for the time-travel upsert retention: replays every
    RETAINED version snapshot's contents from the raw events via the
    span-staging closed form (span = (epoch_us(ts) − min) // step,
    step = range // n + 1 — the single definition in
    ``stage_session_spans``), and renders the vacuumed version ids as
    literals of the pinned 4-batch history."""
    n = stream_windows.UPSERT_RETENTION_SPANS
    keep = stream_windows.UPSERT_KEEP_VERSIONS
    retained = range(n - keep, n)
    vacuumed = range(0, n - keep)
    vac_rows = "\n    UNION ALL ".join(
        f"SELECT 'vacuumed' AS disposition, {v} AS version, "
        f"CAST(NULL AS BIGINT) AS n_keys, "
        f"CAST(NULL AS BIGINT) AS sum_n_events, "
        f"CAST(NULL AS TIMESTAMP) AS max_last_ts"
        for v in vacuumed
    )
    ret_rows = "\n    UNION ALL ".join(
        f"""SELECT 'retained', {v}, COUNT(*),
           CAST(SUM(n) AS BIGINT), MAX(mx)
    FROM (SELECT user_id, COUNT(*) AS n, MAX(ts) AS mx
          FROM sp WHERE span <= {v} GROUP BY user_id)"""
        for v in retained
    )
    return f"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo,
             ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {n} + 1)
               AS step
      FROM events
    ),
    sp AS (
      SELECT user_id, ts,
             CAST((epoch_us(ts) - lo) // step AS INT) AS span
      FROM events, b
    )
    {vac_rows}
    UNION ALL {ret_rows}
    """


def _grouped_upsert_retention_oracle() -> str:
    """Oracle for the grouped (per-key-range) time-travel retention:
    derives, entirely from the span-staging closed form, (a) which
    (group, version) partitions EXIST (a group writes version v iff
    span v contains one of its rows), (b) the per-group keep-last-R
    retention split (a rank over each group's own write set — robust
    to sparse touching, no literal version lists), and (c) every
    retained partition's contents (group g's snapshot at v == the
    running aggregate of spans 0..v restricted to user_id % G = g).
    user_id is non-negative in the corpus, so ``%`` matches Spark's
    pmod-free ``%`` exactly."""
    n = stream_windows.UPSERT_RETENTION_SPANS
    g = stream_windows.UPSERT_KEY_GROUPS
    keep = stream_windows.UPSERT_KEEP_VERSIONS
    return f"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo,
             ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {n} + 1)
               AS step
      FROM events
    ),
    sp AS (
      SELECT user_id, ts, CAST(user_id % {g} AS INT) AS grp,
             CAST((epoch_us(ts) - lo) // step AS INT) AS span
      FROM events, b
    ),
    wrote AS (SELECT DISTINCT grp, span AS v FROM sp),
    ranked AS (
      SELECT grp, v,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v DESC) AS rk
      FROM wrote
    ),
    ret AS (SELECT grp, v FROM ranked WHERE rk <= {keep}),
    vac AS (SELECT grp, v FROM ranked WHERE rk > {keep}),
    ret_user AS (
      SELECT r.grp, r.v, s.user_id, COUNT(*) AS n, MAX(s.ts) AS mx
      FROM ret r JOIN sp s ON s.grp = r.grp AND s.span <= r.v
      GROUP BY r.grp, r.v, s.user_id
    )
    SELECT 'vacuumed' AS disposition, grp AS g, v AS version,
           CAST(NULL AS BIGINT) AS n_keys,
           CAST(NULL AS BIGINT) AS sum_n_events,
           CAST(NULL AS TIMESTAMP) AS max_last_ts
    FROM vac
    UNION ALL
    SELECT 'retained', grp, v, COUNT(*), CAST(SUM(n) AS BIGINT),
           MAX(mx)
    FROM ret_user GROUP BY grp, v
    """


def _asof_read_oracle() -> str:
    """Oracle for the time-travel AS-OF read: the whole historical
    keyed table at the pinned version, replayed as one filtered
    aggregate over the span closed form (group g's latest snapshot
    ≤ v holds exactly the aggregate of spans 0..v restricted to g —
    see the entry's docstring for why sparse touching changes
    nothing)."""
    n = stream_windows.UPSERT_RETENTION_SPANS
    g = stream_windows.UPSERT_KEY_GROUPS
    v = stream_windows.UPSERT_AS_OF_VERSION
    return f"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo,
             ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {n} + 1)
               AS step
      FROM events
    ),
    sp AS (
      SELECT user_id, ts,
             CAST((epoch_us(ts) - lo) // step AS INT) AS span
      FROM events, b
    )
    SELECT CAST(user_id % {g} AS INT) AS g, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM sp WHERE span <= {v}
    GROUP BY 1, 2
    """


def _upsert_changes_oracle(
    v0: int | None = None, v1: int | None = None
) -> str:
    """Oracle for the CDC change feed: both historical states rebuilt
    from the span closed form (state at u == spans 0..u per group),
    then diffed — inserts (keys absent before) and update pre/post
    image pairs (keys whose exact event count differs; count
    monotonicity makes that the complete change test). Defaults to
    the stepwise (v-1, v) window at the pinned AS-OF version; pass
    (v0, v1) for the net-effect window entry."""
    n = stream_windows.UPSERT_RETENTION_SPANS
    g = stream_windows.UPSERT_KEY_GROUPS
    v = stream_windows.UPSERT_AS_OF_VERSION
    if v1 is None:
        v0, v1 = v - 1, v
    return f"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo,
             ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {n} + 1)
               AS step
      FROM events
    ),
    sp AS (
      SELECT user_id, ts, CAST(user_id % {g} AS INT) AS grp,
             CAST((epoch_us(ts) - lo) // step AS INT) AS span
      FROM events, b
    ),
    news AS (
      SELECT grp, user_id, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(ts) AS f, MAX(ts) AS l
      FROM sp WHERE span <= {v1} GROUP BY grp, user_id
    ),
    prevs AS (
      SELECT grp, user_id, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(ts) AS f, MAX(ts) AS l
      FROM sp WHERE span <= {v0} GROUP BY grp, user_id
    )
    SELECT nw.grp AS g, nw.user_id, 'insert' AS change_type,
           nw.n AS n_events, nw.f AS first_ts, nw.l AS last_ts
    FROM news nw LEFT JOIN prevs p
      ON p.grp = nw.grp AND p.user_id = nw.user_id
    WHERE p.user_id IS NULL
    UNION ALL
    SELECT p.grp, p.user_id, 'update_preimage', p.n, p.f, p.l
    FROM news nw JOIN prevs p
      ON p.grp = nw.grp AND p.user_id = nw.user_id
    WHERE nw.n != p.n
    UNION ALL
    SELECT nw.grp, nw.user_id, 'update_postimage', nw.n, nw.f, nw.l
    FROM news nw JOIN prevs p
      ON p.grp = nw.grp AND p.user_id = nw.user_id
    WHERE nw.n != p.n
    """


def _stats_incremental_oracle(
    table: str, cols: tuple[str, ...]
) -> str:
    """Oracle for the incremental (sketch-merged) table-stats
    refresh: every EXACT field comes straight off the whole table —
    the hash match against the engine's merge-of-batch-partials IS
    the merge == whole proof for counts and bounds — and the merged-
    HLL NDV certification is pinned TRUE (the engine computes
    |estimate − exact| ≤ bound·exact in-plan; the oracle asserts the
    envelope holds by emitting the literal)."""
    n = stats.STATS_INGEST_BATCHES
    key = {"lineitem": "l_orderkey", "events": "event_id"}[table]
    parts = [
        f"""
    SELECT '{c}' AS col_name,
           (SELECT COUNT(DISTINCT {key} % {n}) FROM {table})
             AS n_batches,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           ROUND(CAST(MIN({c}) AS DOUBLE), 9) AS min_val,
           ROUND(CAST(MAX({c}) AS DOUBLE), 9) AS max_val,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv_exact,
           TRUE AS merged_within_bound
    FROM {table}"""
        for c in cols
    ]
    return "\nUNION ALL\n".join(parts)


def _upsert_scd2_oracle() -> str:
    """Oracle for the sink-changelog SCD2 build: every per-version
    keyed state rebuilt from the span closed form (state at v ==
    spans 0..v per group — the same template every sink oracle
    shares), change rows kept by the count-monotonicity test (a
    key's interval opens exactly where its exact event count first
    differs from the previous version — LAG over the per-key version
    order), and intervals closed by LEAD (open-ended ⇒ is_current).
    This replays the ENGINE's changelog composition exactly: a
    stepwise CDC feed emits a key at v iff its count changed at v,
    which is the kept-row condition here."""
    n = stream_windows.UPSERT_RETENTION_SPANS
    g = stream_windows.UPSERT_KEY_GROUPS
    return f"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo,
             ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {n} + 1)
               AS step
      FROM events
    ),
    sp AS (
      SELECT user_id, ts, CAST(user_id % {g} AS INT) AS grp,
             CAST((epoch_us(ts) - lo) // step AS INT) AS span
      FROM events, b
    ),
    vs AS (SELECT DISTINCT span AS v FROM sp),
    states AS (
      SELECT v.v, s.grp AS g, s.user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(s.ts) AS first_ts, MAX(s.ts) AS last_ts
      FROM vs v JOIN sp s ON s.span <= v.v
      GROUP BY v.v, s.grp, s.user_id
    ),
    chg AS (
      SELECT *,
             LAG(n_events) OVER (
               PARTITION BY g, user_id ORDER BY v
             ) AS pn
      FROM states
    ),
    keep AS (SELECT * FROM chg WHERE pn IS NULL OR n_events != pn)
    SELECT g, user_id, n_events, first_ts, last_ts,
           CAST(v AS INT) AS valid_from,
           CAST(LEAD(v) OVER (
             PARTITION BY g, user_id ORDER BY v
           ) AS INT) AS valid_to,
           (LEAD(v) OVER (
             PARTITION BY g, user_id ORDER BY v
           ) IS NULL) AS is_current
    FROM keep
    """


def _gbt_boost_ctes(
    n_stages: int, base_cte: str | None = None, seg: bool = False
) -> list[str]:
    """The K-stage booster oracle's CTE chain (``base, p1..wK``) —
    shared by :func:`_gbt_boost_oracle` (which appends the exploded
    stage-row select) and :func:`_status_qgbt_isotonic_oracle` (which
    instead SCORES rows against the final winner CTE ``w{K}`` — the
    SQL twin of gbt_boost's ``wide=True``). One definition of the
    trainer arithmetic, every consumer."""
    return _gbt_boost_oracle(n_stages, base_cte, seg, ctes_only=True)


def _gbt_boost_oracle(
    n_stages: int,
    base_cte: str | None = None,
    seg: bool = False,
    ctes_only: bool = False,
) -> str | list[str]:
    """Oracle for the K-stage booster (stats.gbt_boost): a uniform CTE
    chain per stage mirroring the driver loop exactly — stage k's left/
    total residual sums are the identical left-associated expression
    trees over the window sums and the carried stage doubles, and the
    RIGHT sum is (total − left) at EVERY stage. (The hand-unrolled
    ``lineitem_gbt_stages`` oracle computes stage 1's right sum in the
    algebraically equal direct form; the entry now runs
    ``gbt_boost(li, 2)``, and the two forms give the same rows at
    sf0.001, sf0.01 and sf0.1.)
    ``base_cte`` swaps the bin definition (the quantile-binned
    variant) while the stage chain stays identical — the oracle-side
    twin of gbt_boost's ``binned`` parameter. ``seg=True`` renders the
    PER-SEGMENT form from the same template (the grouped-gbt_boost
    twin): the base CTE must then carry a ``seg`` column; the key
    rides every group-by and carry list, partitions every window, and
    keys the stage joins (equi-join on seg instead of the 1-row
    cross join) — one definition, both entries."""
    feats = [name for name, *_ in stats.STUMP_BINS]
    nu = f"CAST({stats.GBT_SHRINKAGE} AS DOUBLE)"
    wpart = "seg, " if seg else ""
    segpart = "PARTITION BY seg " if seg else ""
    ctes = [
        base_cte
        if base_cte is not None
        else f"""base AS (
      SELECT {_STUMP_BIN_SQL["qty"]} AS b_qty,
             {_STUMP_BIN_SQL["disc"]} AS b_disc,
             {_STUMP_BIN_SQL["price"]} AS b_price,
             {stats._STUMP_LABEL_SQL} AS y
      FROM lineitem
    )"""
    ]
    for k in range(1, n_stages + 1):
        carry: list[str] = ["seg"] if seg else []
        for i in range(1, k):
            carry += [
                f"f{i}", f"t{i}", f"nw{i}", f"nr{i}",
                f"sc{i}", f"gl{i}", f"gr{i}",
            ]
        if k > 1:
            carry.append("ybar")
        pre = (", ".join(carry) + ", ") if carry else ""
        mems = [f"m{i}" for i in range(1, k)]
        if k == 1:
            src = "base"
        else:
            mem_defs = ",\n             ".join(
                "CASE WHEN "
                + " OR ".join(
                    f"(w.f{i} = '{f}' AND b.b_{f} <= w.t{i})"
                    for f in feats
                )
                + f" THEN 1 ELSE 0 END AS m{i}"
                for i in range(1, k)
            )
            stage_join = (
                f"FROM base b JOIN w{k - 1} w ON w.seg = b.seg"
                if seg
                else f"FROM base b, w{k - 1} w"
            )
            ctes.append(
                f"""st{k} AS (
      SELECT w.*, b.b_qty, b.b_disc, b.b_price, b.y,
             {mem_defs}
      {stage_join}
    )"""
            )
            src = f"st{k}"
        mem_sel = "".join(f", {m}" for m in mems)
        unions = " UNION ALL ".join(
            (
                f"SELECT {pre}'{f}' AS feature, b_{f} AS bin, y{mem_sel}"
                f" FROM {src}"
            )
            if i == 0
            else f"SELECT {pre}'{f}', b_{f}, y{mem_sel} FROM {src}"
            for i, f in enumerate(feats)
        )
        ctes.append(f"p{k} AS ({unions})")
        mem_aggs = "".join(
            f",\n             CAST(SUM(m{i}) AS BIGINT) AS m{i}s"
            for i in range(1, k)
        )
        ctes.append(
            f"""h{k} AS (
      SELECT {pre}feature, bin, COUNT(*) AS n,
             CAST(SUM(y) AS BIGINT) AS pos{mem_aggs}
      FROM p{k} GROUP BY {pre}feature, bin
    )"""
        )
        mem_wins = "".join(
            f",\n             SUM(m{i}s) OVER (PARTITION BY {wpart}feature"
            f" ORDER BY bin) AS m{i}sl"
            f",\n             SUM(m{i}s) OVER (PARTITION BY {wpart}feature)"
            f" AS m{i}st"
            for i in range(1, k)
        )
        ctes.append(
            f"""c{k} AS (
      SELECT {pre}feature, bin AS split_bin,
             SUM(n) OVER (PARTITION BY {wpart}feature ORDER BY bin) AS nl,
             SUM(pos) OVER (PARTITION BY {wpart}feature ORDER BY bin) AS posl,
             SUM(n) OVER (PARTITION BY {wpart}feature) AS nt,
             SUM(pos) OVER (PARTITION BY {wpart}feature) AS post{mem_wins}
      FROM h{k}
    )"""
        )
        yb = "(post/nt)" if k == 1 else "ybar"
        rl = f"(posl - nl*{yb})"
        rt = f"(post - nt*{yb})"
        for i in range(1, k):
            rl += f" - {nu}*(m{i}sl*gl{i} + (nl - m{i}sl)*gr{i})"
            rt += f" - {nu}*(m{i}st*gl{i} + (nt - m{i}st)*gr{i})"
        rl, rt = f"({rl})", f"({rt})"
        rr = f"({rt} - {rl})"
        ybar_sel = ",\n             post/nt AS ybar" if k == 1 else ""
        ctes.append(
            f"""s{k} AS (
      SELECT {pre}feature, split_bin,
             CAST(nl AS BIGINT) AS nl, CAST(nt AS BIGINT) AS nt,
             ROUND(({rl}*{rl})/nl + ({rr}*{rr})/(nt - nl), 9) AS score,
             {rl}/nl AS cand_gl, {rr}/(nt - nl) AS cand_gr{ybar_sel}
      FROM c{k} WHERE nl < nt
    )"""
        )
        keep = [c for c in carry if c != "ybar"]
        keep_sql = (", ".join(keep) + ", ") if keep else ""
        ctes.append(
            f"""w{k} AS (
      SELECT {keep_sql}feature AS f{k}, split_bin AS t{k},
             nl AS nw{k}, nt - nl AS nr{k}, score AS sc{k},
             cand_gl AS gl{k}, cand_gr AS gr{k}, ybar
      FROM (SELECT *, ROW_NUMBER() OVER ({segpart}
              ORDER BY score DESC, feature, split_bin) AS rg
            FROM s{k})
      WHERE rg = 1
    )"""
        )
    if ctes_only:
        return ctes
    segsel = "seg, " if seg else ""
    stage_rows = " UNION ALL ".join(
        (
            f"SELECT {segsel}{k} AS stage, f{k} AS feature,"
            f" t{k} AS split_bin,"
            f" nw{k} AS n_left, nr{k} AS n_right,"
            f" ROUND(gl{k}, 9) AS gamma_left,"
            f" ROUND(gr{k}, 9) AS gamma_right, sc{k} AS score"
            f" FROM w{n_stages}"
        )
        if k == 1
        else (
            f"SELECT {segsel}{k}, f{k}, t{k}, nw{k}, nr{k},"
            f" ROUND(gl{k}, 9),"
            f" ROUND(gr{k}, 9), sc{k} FROM w{n_stages}"
        )
        for k in range(1, n_stages + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + stage_rows


def _isotonic_oracle(
    n_bins: int = stats.ROC_BINS,
    seg: bool = False,
    scored_cte: str | None = None,
) -> str:
    """Oracle for the isotonic calibrator: same trajectory + round-9
    score + fixed binning as the AUC oracle, then the minimax closed
    form over occupied-bin prefix sums — every Av(h, j) is one IEEE
    division of exact BIGINT differences, and the two window passes
    (suffix-min per h, prefix-max per j) mirror stats.
    isotonic_calibration term for term. ``seg=True`` renders the
    PER-SEGMENT form from the same template: the segment key rides
    the scored CTE, partitions every window, and keys the pair join
    — one definition, every entry. ``scored_cte`` swaps the SCORER
    (a CTE chain whose last member defines ``scored`` with columns
    ``[seg,] p, y``) while the PAV tail stays byte-identical — the
    default is the registry logreg model; the quantile-GBT margin
    entry passes its trainer chain (:func:`_status_qgbt_isotonic_oracle`)."""
    sel = "seg, " if seg else ""
    part = "PARTITION BY seg " if seg else ""
    joinseg = "b.seg = a.seg AND " if seg else ""
    segcol = "l_linestatus AS seg, " if seg else ""
    if scored_cte is None:
        scored_cte = _logreg_scored_cte(extra=segcol)
    return f"""
    WITH {scored_cte},
    hist AS (
      SELECT {sel}GREATEST(0, LEAST(CAST(FLOOR(p * {n_bins}) AS INT),
                                {n_bins - 1})) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY {"seg, bin" if seg else "1"}
    ),
    idx AS (
      SELECT {sel}bin, n, pos,
             ROW_NUMBER() OVER ({part}ORDER BY bin) AS i,
             CAST(SUM(n) OVER ({part}ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cn,
             CAST(SUM(pos) OVER ({part}ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cp
      FROM hist
    ),
    pairs AS (
      SELECT {"b.seg, " if seg else ""}a.i AS h, b.i AS j, b.bin, b.n, b.pos,
             (b.cp - (a.cp - a.pos)) / (b.cn - (a.cn - a.n)) AS av
      FROM idx a JOIN idx b ON {joinseg}b.i >= a.i
    ),
    t AS (
      SELECT {sel}h, j, bin, n, pos,
             MIN(av) OVER (PARTITION BY {"seg, " if seg else ""}h ORDER BY j DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
      FROM pairs
    ),
    u AS (
      SELECT {sel}h, j, bin, n, pos,
             MAX(mn) OVER (PARTITION BY {"seg, " if seg else ""}j ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
      FROM t
    )
    SELECT {sel}bin, n AS n_rows, pos,
           ROUND(pos / n, 9) AS rate, ROUND(mx, 9) AS iso
    FROM u WHERE h = j
    """


def _status_qgbt_isotonic_oracle() -> str:
    """Oracle for the per-segment isotonic calibration of the grouped
    quantile-GBT margin — see :func:`_qgbt_isotonic_oracle`."""
    return _qgbt_isotonic_oracle(seg=True)


def _qgbt_isotonic_oracle(seg: bool) -> str:
    """Oracle for the isotonic calibration of the quantile-GBT
    margin, global or per-segment: the trainer's CTE chain
    (:func:`_gbt_boost_ctes` — equi-depth maps + the 2-stage residual
    recursion, per-segment when ``seg``) feeds a SCORED CTE that
    routes every row through the winner's leaves exactly like the
    Spark scorer (shipped round-9 leaf values, ν = the shrinkage
    literal, left-associated sum rounded to 9 before binning), then
    the shared PAV tail from :func:`_isotonic_oracle` fits the
    monotone map — the whole pipeline one declarative replay, one
    definition for both entries."""
    ctes = _gbt_boost_ctes(
        2,
        base_cte=_quantile_binned_base_cte(
            seg_sql="l_linestatus" if seg else None
        ),
        seg=seg,
    )
    feats = [name for name, *_ in stats.STUMP_BINS]
    nu = f"CAST({stats.GBT_SHRINKAGE} AS DOUBLE)"

    def leaf(k: int) -> str:
        memb = " OR ".join(
            f"(w.f{k} = '{f}' AND b.b_{f} <= w.t{k})" for f in feats
        )
        return (
            f"(CASE WHEN {memb} THEN ROUND(w.gl{k}, 9) "
            f"ELSE ROUND(w.gr{k}, 9) END)"
        )

    seg_sel = "b.seg,\n             " if seg else ""
    join = (
        "FROM base b JOIN w2 w ON w.seg = b.seg"
        if seg
        else "FROM base b, w2 w"
    )
    scored = f"""scored AS (
      SELECT {seg_sel}ROUND(w.ybar + {nu}*{leaf(1)} + {nu}*{leaf(2)}, 9) AS p,
             b.y
      {join}
    )"""
    return _isotonic_oracle(
        seg=seg, scored_cte=",\n    ".join(ctes + [scored])
    )


def _table_stats_oracle(
    cols: tuple[str, ...], table: str = "lineitem"
) -> str:
    """Oracle for the ANALYZE entries: one UNION ALL branch per
    column — count/nulls/min/max/exact-NDV, min/max canonicalized to
    round-9 doubles exactly like stats.table_stats; ``table`` makes
    the renderer table-generic (lineitem and events entries share
    it)."""
    branches = []
    for i, c in enumerate(cols):
        head = (
            "SELECT CAST('{c}' AS VARCHAR) AS col_name, "
            "CAST(COUNT(*) AS BIGINT) AS n_rows, "
            "CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls, "
            "ROUND(CAST(MIN({c}) AS DOUBLE), 9) AS min_val, "
            "ROUND(CAST(MAX({c}) AS DOUBLE), 9) AS max_val, "
            "CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv "
            "FROM {t}"
            if i == 0
            else "SELECT '{c}', COUNT(*), COUNT(*) - COUNT({c}), "
            "ROUND(CAST(MIN({c}) AS DOUBLE), 9), "
            "ROUND(CAST(MAX({c}) AS DOUBLE), 9), "
            "COUNT(DISTINCT {c}) FROM {t}"
        )
        branches.append(head.format(c=c, t=table))
    return "\n    UNION ALL\n    ".join(branches)


def _write_amplification_oracle() -> str:
    """Oracle for the upsert write-amplification audit: a version's
    written rows are its touched groups' snapshot sizes (the span
    closed form — the grouped-retention argument), its changed keys
    the span's distinct users; the ratio is one exact BIGINT/BIGINT
    IEEE division rounded to 9 on both engines."""
    n = stream_windows.UPSERT_RETENTION_SPANS
    g = stream_windows.UPSERT_KEY_GROUPS
    return f"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo,
             ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {n} + 1)
               AS step
      FROM events
    ),
    sp AS (
      SELECT user_id, CAST(user_id % {g} AS INT) AS grp,
             CAST((epoch_us(ts) - lo) // step AS INT) AS span
      FROM events, b
    ),
    wrote AS (SELECT DISTINCT grp, span AS v FROM sp),
    snap_user AS (
      SELECT w.grp, w.v, s.user_id
      FROM wrote w JOIN sp s ON s.grp = w.grp AND s.span <= w.v
      GROUP BY w.grp, w.v, s.user_id
    ),
    written AS (
      SELECT v AS version, CAST(COUNT(*) AS BIGINT) AS rows_written
      FROM snap_user GROUP BY v
    ),
    changed AS (
      SELECT span AS version,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS keys_changed
      FROM sp GROUP BY span
    )
    SELECT w.version, w.rows_written, c.keys_changed,
           ROUND(w.rows_written / c.keys_changed, 9) AS amplification
    FROM written w JOIN changed c ON c.version = w.version
    """


def _grouped_compaction_oracle() -> str:
    """Oracle for the grouped-sink small-file compaction audit: the
    (group, version) partition matrix and every partition's contents
    replay from the span closed form (the grouped-retention
    argument); ``files_before`` is the staging's
    ``LEAST(FRAG, n_keys)`` closed form (range partitioning on the
    snapshot's unique key — one range per distinct key up to FRAG)
    and ``files_after`` is the LITERAL 1 — valid ONLY while every
    partition's staged bytes stay under the 128 MB target (true at
    every test SF by orders of magnitude). At a larger SF the engine
    moves to ``ceil(bytes/target)``; the staging helper
    (``_compacted_grouped_tree``) asserts this bound at STAGE time
    with a message naming this oracle, so the drift fails loudly
    there instead of as an inscrutable value-hash mismatch here
    (r14 ADVICE)."""
    n = stream_windows.UPSERT_RETENTION_SPANS
    g = stream_windows.UPSERT_KEY_GROUPS
    frag = stream_windows.UPSERT_COMPACT_FRAG
    return f"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo,
             ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {n} + 1)
               AS step
      FROM events
    ),
    sp AS (
      SELECT user_id, ts, CAST(user_id % {g} AS INT) AS grp,
             CAST((epoch_us(ts) - lo) // step AS INT) AS span
      FROM events, b
    ),
    wrote AS (SELECT DISTINCT grp, span AS v FROM sp),
    snap_user AS (
      SELECT w.grp, w.v, s.user_id, COUNT(*) AS n, MAX(s.ts) AS mx
      FROM wrote w JOIN sp s ON s.grp = w.grp AND s.span <= w.v
      GROUP BY w.grp, w.v, s.user_id
    )
    SELECT grp AS g, v AS version,
           CAST(LEAST({frag}, COUNT(*)) AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS sum_n_events,
           MAX(mx) AS max_last_ts
    FROM snap_user GROUP BY grp, v
    """


REGISTRY.update(
    {
        "lineitem_gbt_stages3": QuerySpec(
            stats.lineitem_gbt_stages3,
            _gbt_boost_oracle(3),
            "THREE gradient-boosting stages of histogram stumps under "
            "squared loss via the uniform closed-form residual "
            "recursion (one carried membership column per past stage) "
            "— one scan per stage, §7.6's deeper-boosting candidate",
            ("stats", "model", "lineitem", "iterative"),
        ),
        "lineitem_isotonic_calibration": QuerySpec(
            stats.lineitem_isotonic_calibration,
            _isotonic_oracle(),
            "isotonic (PAV) calibration of the logreg scores over the "
            "1024-bin histogram via the exactly-replayable minimax "
            "closed form — one data scan, O(bins²) histogram epilogue",
            ("stats", "model", "lineitem"),
        ),
        "lineitem_target_encoding": QuerySpec(
            stats.lineitem_target_encoding,
            f"""
            WITH base AS (
              SELECT l_suppkey AS category,
                     CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                       || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))
                       AS BIGINT) % {stats.N_ENC_FOLDS} AS fold,
                     CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
              FROM lineitem
            ),
            cell AS (
              SELECT category, fold, COUNT(*) AS n,
                     CAST(SUM(y) AS BIGINT) AS pos
              FROM base GROUP BY category, fold
            ),
            per_cat AS (
              SELECT category, fold, n, pos,
                     CAST(SUM(n) OVER (PARTITION BY category) AS BIGINT)
                       AS n_c,
                     CAST(SUM(pos) OVER (PARTITION BY category) AS BIGINT)
                       AS pos_c
              FROM cell
            ),
            fold_tot AS (
              SELECT fold, CAST(SUM(n) AS BIGINT) AS n_f,
                     CAST(SUM(pos) AS BIGINT) AS pos_f
              FROM cell GROUP BY fold
            ),
            tot AS (
              SELECT CAST(SUM(n) AS BIGINT) AS nt,
                     CAST(SUM(pos) AS BIGINT) AS post
              FROM cell
            )
            SELECT category, fold, n, pos,
                   ROUND((post - pos_f) / (nt - n_f), 9) AS prior,
                   ROUND(((pos_c - pos)
                          + {stats.ENC_SMOOTHING}
                            * ((post - pos_f) / (nt - n_f)))
                         / ((n_c - n) + {stats.ENC_SMOOTHING}), 9)
                     AS encoding
            FROM per_cat p JOIN fold_tot f USING (fold) CROSS JOIN tot
            """,
            "out-of-fold smoothed target encoding of the supplier key "
            "(high-cardinality categorical) vs the return label: "
            "md5-deterministic folds, fold-complement prior, per-cell "
            "complement statistics from one cell-grid pass",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "docs_ngram_novelty": QuerySpec(
            dedup.docs_ngram_novelty,
            f"""
            WITH {_SHINGLES_CTE.strip().lstrip()},
            own AS (
              SELECT shingle, MIN(doc_id) AS owner FROM sh GROUP BY shingle
            )
            SELECT s.doc_id, COUNT(*) AS n_shingles,
                   CAST(SUM(CASE WHEN o.owner = s.doc_id
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                   ROUND(CAST(SUM(CASE WHEN o.owner = s.doc_id
                              THEN 1 ELSE 0 END) AS BIGINT)
                         / COUNT(*), 9) AS novelty
            FROM sh s JOIN own o ON o.shingle = s.shingle
            GROUP BY s.doc_id
            """,
            "first-occurrence 3-gram novelty share per document "
            "(min-doc_id shingle ownership) — the corpus-diversity "
            "signal pairwise dedup misses when overlap spreads across "
            "many earlier docs; two linear shuffles",
            ("dedup", "pipeline", "documents"),
        ),
    }
)


# Round-13 block: equi-depth discretization, the encoding reliability
# audit, and the DLQ split sink (SURVEY.md §7.7).

# First-match CASE rendered from the SAME ordered rule table the
# foreachBatch router folds (stream_windows.DLQ_RULES) — one rule
# definition, two mechanical renderings.
_DLQ_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {pred} THEN '{name}'"
        for name, pred in stream_windows.DLQ_RULES
    )
    + " END"
)

#: The per-reason age cutoff (BIGINT microseconds over the oracle's
#: ``wm``/``lo`` bounds columns), folded from the SAME
#: ``DLQ_AGE_POLICY`` tuple as the Spark-side ``_policy_cutoff_expr``
#: — one definition, two mechanical renderings.
_DLQ_POLICY_CUTOFF_SQL = (
    "CASE "
    + " ".join(
        f"WHEN reason = '{reason}' THEN wm - ((wm - lo) * {num}) // {den}"
        for reason, num, den in stream_windows.DLQ_AGE_POLICY
    )
    + f" ELSE wm - ((wm - lo) * {stream_windows.DLQ_AGE_NUM})"
    f" // {stream_windows.DLQ_AGE_DEN} END"
)

def _enc_grid_ctes(segment: bool = False) -> str:
    """The target-encoding CTE chain shared by every encoding-family
    oracle (reliability audits and the encoded-feature stump): base
    rows with re-derived folds, the cell grid, and the out-of-fold
    smoothed encoding. The grid CTEs never see the segment — the fit
    is the one unsplit map the pipeline ships."""
    seg_base = "l_linestatus AS seg, " if segment else ""
    return f"""base AS (
      SELECT {seg_base}l_suppkey AS category,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
               || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))
               AS BIGINT) % {stats.N_ENC_FOLDS} AS fold,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cell AS (
      SELECT category, fold, COUNT(*) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM base GROUP BY category, fold
    ),
    per_cat AS (
      SELECT category, fold, n, pos,
             CAST(SUM(n) OVER (PARTITION BY category) AS BIGINT)
               AS n_c,
             CAST(SUM(pos) OVER (PARTITION BY category) AS BIGINT)
               AS pos_c
      FROM cell
    ),
    fold_tot AS (
      SELECT fold, CAST(SUM(n) AS BIGINT) AS n_f,
             CAST(SUM(pos) AS BIGINT) AS pos_f
      FROM cell GROUP BY fold
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(pos) AS BIGINT) AS post
      FROM cell
    ),
    grid AS (
      SELECT category, fold,
             ROUND(((pos_c - pos)
                    + {stats.ENC_SMOOTHING}
                      * ((post - pos_f) / (nt - n_f)))
                   / ((n_c - n) + {stats.ENC_SMOOTHING}), 9)
               AS encoding
      FROM per_cat p JOIN fold_tot f USING (fold) CROSS JOIN tot
    )"""


#: The oracle rendering of the fixed centile bucket every
#: encoding-family consumer shares.
_ENC_BIN_SQL = (
    f"GREATEST(0, LEAST(CAST(FLOOR(encoding"
    f" * {stats.ENC_RELIABILITY_BINS}) AS INT),"
    f" {stats.ENC_RELIABILITY_BINS - 1}))"
)


def _enc_reliability_oracle(
    per_fold: bool = False, segment: bool = False
) -> str:
    """Oracle for the encoding reliability audit — the shared
    target-encoding CTEs (:func:`_enc_grid_ctes`), the row→cell
    re-join, and the fixed centile buckets; ``per_fold=True`` renders
    the fold-variance form and ``segment=True`` the per-l_linestatus
    form (one more grouping key each) from the same template."""
    sel = ("seg, " if segment else "") + ("fold, " if per_fold else "")
    return f"""
    WITH {_enc_grid_ctes(segment)}
    SELECT {sel}{_ENC_BIN_SQL} AS bin,
           COUNT(*) AS n_rows,
           ROUND(SUM(encoding) / COUNT(*), 6) AS mean_encoding,
           ROUND(SUM(y) / COUNT(*), 6) AS frac_positive
    FROM base b JOIN grid g USING (category, fold)
    GROUP BY {sel}bin
    """


def _enc_stump_oracle(segment: bool = False) -> str:
    """Oracle for the encoded-feature stump: the shared encoding CTEs
    feed a centile label histogram, then the same cumulative/Gini
    epilogue as the quantile-stump oracles; ``segment=True`` threads
    the l_linestatus key through the histogram, every window
    partition, and the winner rank (the grid CTEs stay unsplit)."""
    s = "seg, " if segment else ""
    sp = "PARTITION BY seg, " if segment else "PARTITION BY "
    rb_part = "PARTITION BY seg" if segment else ""
    return f"""
    WITH {_enc_grid_ctes(segment)},
    h AS (
      SELECT {s}{_ENC_BIN_SQL} AS bin,
             COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
      FROM base b JOIN grid g USING (category, fold)
      GROUP BY {s}bin
    ),
    bh AS (
      SELECT {s}'l_suppkey_enc_q{stats.ENC_RELIABILITY_BINS}'
               AS feature,
             bin, n, pos
      FROM h
    ),
    cum AS (
      SELECT {s}feature, bin AS split_bin,
             SUM(n) OVER ({sp}feature ORDER BY bin) AS nl,
             SUM(pos) OVER ({sp}feature ORDER BY bin) AS posl,
             SUM(n) OVER ({sp}feature) AS nt,
             SUM(pos) OVER ({sp}feature) AS post
      FROM bh
    ),
    gains AS (
      SELECT {s}feature, split_bin,
             CAST(nl AS BIGINT) AS n_left,
             CAST(posl AS BIGINT) AS pos_left,
             CAST(nt - nl AS BIGINT) AS n_right,
             CAST(post - posl AS BIGINT) AS pos_right,
             {stats.gini_gain_sql()} AS gain
      FROM cum WHERE nl < nt
    )
    SELECT {s}feature, split_bin, n_left, pos_left,
           n_right, pos_right, gain, (rb = 1) AS is_best
    FROM (SELECT *, ROW_NUMBER() OVER ({rb_part}
            ORDER BY gain DESC, split_bin) AS rb
          FROM gains)
    """


REGISTRY.update(
    {
        "lineitem_price_quantile_bins": QuerySpec(
            stats.lineitem_price_quantile_bins,
            f"""
            WITH h AS (
              SELECT GREATEST(0, LEAST({stats.N_QTL_FINE - 1},
                       CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)
                            / {stats.QTL_FINE_WIDTH}) AS INT))) AS fb,
                     COUNT(*) AS n
              FROM lineitem GROUP BY fb
            ),
            c AS (
              SELECT fb, n,
                     SUM(n) OVER (ORDER BY fb ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum,
                     SUM(n) OVER () AS nt
              FROM h
            )
            SELECT LEAST({stats.N_QTL_BUCKETS - 1},
                     CAST(((cum - n) * {stats.N_QTL_BUCKETS}) // nt
                          AS INT)) AS bucket,
                   COUNT(*) AS n_fine_bins,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   MIN(fb) AS lo_bin, MAX(fb) AS hi_bin,
                   ROUND(CAST(SUM(n) AS BIGINT) / MAX(nt), 9) AS frac
            FROM c GROUP BY bucket
            """,
            "exact equi-depth decile discretization of l_extendedprice "
            "by the two-pass rank scheme (fixed fine histogram + "
            "closed-form integer rank arithmetic) — one data scan, "
            "histogram-sized epilogue, no global sort",
            ("stats", "lineitem", "pipeline"),
        ),
        "lineitem_flag_quantile_bins": QuerySpec(
            stats.lineitem_flag_quantile_bins,
            f"""
            WITH h AS (
              SELECT l_returnflag,
                     GREATEST(0, LEAST({stats.N_QTL_FINE - 1},
                       CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)
                            / {stats.QTL_FINE_WIDTH}) AS INT))) AS fb,
                     COUNT(*) AS n
              FROM lineitem GROUP BY l_returnflag, fb
            ),
            c AS (
              SELECT l_returnflag, fb, n,
                     SUM(n) OVER (PARTITION BY l_returnflag ORDER BY fb
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                     SUM(n) OVER (PARTITION BY l_returnflag) AS nt
              FROM h
            )
            SELECT l_returnflag,
                   LEAST({stats.N_QTL_BUCKETS - 1},
                     CAST(((cum - n) * {stats.N_QTL_BUCKETS}) // nt
                          AS INT)) AS bucket,
                   COUNT(*) AS n_fine_bins,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   MIN(fb) AS lo_bin, MAX(fb) AS hi_bin,
                   ROUND(CAST(SUM(n) AS BIGINT) / MAX(nt), 9) AS frac
            FROM c GROUP BY l_returnflag, bucket
            """,
            "per-group equi-depth deciles of l_extendedprice keyed by "
            "l_returnflag — bucket edges adapt to each group's own "
            "distribution; same closed-form rank arithmetic with the "
            "group key on every window (per-group histogram "
            "partitions: more parallel than the global form)",
            ("stats", "lineitem", "pipeline"),
        ),
        "lineitem_encoding_reliability": QuerySpec(
            stats.lineitem_encoding_reliability,
            _enc_reliability_oracle(),
            "centile reliability audit of the out-of-fold supplier-key "
            "target encoding: every row receives its own cell's "
            "encoding (shared fold derivation with the fit), bucketed "
            "into fixed encoding centiles — mean_encoding vs "
            "frac_positive per bucket",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "streaming_dlq_split": QuerySpec(
            stream_windows.streaming_dlq_split,
            f"""
            WITH tagged AS (
              SELECT *, {_DLQ_CASE} AS r FROM events
            )
            SELECT CASE WHEN r IS NULL THEN 'good' ELSE 'dlq' END
                     AS disposition,
                   COALESCE(r, 'ok') AS reason, event_type,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(SUM(event_id) AS BIGINT) AS sum_event_id
            FROM tagged GROUP BY 1, 2, 3
            """,
            "foreachBatch dead-letter-queue sink: each micro-batch is "
            "routed by ordered first-match quarantine rules into "
            "reason-tagged DLQ vs good sinks (epoch-scoped idempotent "
            "overwrites); the audit summary must equal the one-shot "
            "batch CASE split",
            ("events", "streaming", "sink"),
        ),
    }
)


# Round-13 late block: DLQ redrive, per-fold encoding reliability,
# per-segment isotonic calibration.

_REDRIVE_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {pred} THEN '{name}'"
        for name, pred in stream_windows.REDRIVE_RULES
    )
    + " END"
)

REGISTRY.update(
    {
        "streaming_dlq_redrive": QuerySpec(
            stream_windows.streaming_dlq_redrive,
            f"""
            WITH tagged AS (
              SELECT *, {_DLQ_CASE} AS r1 FROM events
            ),
            re AS (
              SELECT *, {_REDRIVE_CASE} AS r2
              FROM tagged WHERE r1 IS NOT NULL
            )
            SELECT CASE WHEN r2 IS NULL THEN 'redriven_good'
                        ELSE 'still_dlq' END AS disposition,
                   COALESCE(r2, 'ok') AS reason, event_type,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(SUM(event_id) AS BIGINT) AS sum_event_id
            FROM re GROUP BY 1, 2, 3
            """,
            "DLQ redrive pass: the quarantine is re-ingested as a "
            "rate-limited stream and re-routed under the corrected "
            "rule table (the false-positive value cap dropped) — "
            "cleared rows rejoin the good data, the rest stay "
            "dead-lettered; oracle replays the two-pass composition "
            "batch-wise",
            ("events", "streaming", "sink"),
        ),
        "lineitem_fold_reliability": QuerySpec(
            stats.lineitem_fold_reliability,
            _enc_reliability_oracle(per_fold=True),
            "the encoding reliability audit split BY FOLD — the "
            "leakage detector's variance view (a diverging fold "
            "indicates fold-dependent leakage or a broken fold hash); "
            "shares the session-cached grid",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_status_isotonic": QuerySpec(
            stats.lineitem_status_isotonic,
            _isotonic_oracle(seg=True),
            "PER-SEGMENT isotonic calibration of the logreg scores "
            "keyed by l_linestatus — the minimax closed form with the "
            "segment key on every window and the pair join; a model "
            "can be calibrated globally yet biased within a segment",
            ("stats", "model", "lineitem"),
        ),
    }
)


# Round-14 block: binned and multi-feature stumps, quantile-binned
# trees and boosters, and the upsert sink's vacuum and retention.

_BSTUMP_FEATURE = f"l_extendedprice_q{stats.N_QTL_BUCKETS}"


def _multi_stump_oracle(segment: bool = False) -> str:
    """Oracle for the multi-feature equi-depth stump — per-feature
    fine histograms (UNION ALL explode), per-feature closed-form
    bucket edges, the shared Gini expression, and per-feature +
    root ranking; ``segment=True`` threads the l_linestatus key
    through every CTE, window partition, and the root rank (the
    grouped form: per-segment grids and per-segment roots)."""
    s = "seg, " if segment else ""
    sp = "PARTITION BY seg, " if segment else "PARTITION BY "
    seg_sel = "l_linestatus AS seg, " if segment else ""
    root_part = "PARTITION BY seg" if segment else ""
    branches = " UNION ALL ".join(
        f"""SELECT {seg_sel}'{name}' AS feature,
             GREATEST(0, LEAST({stats.N_QTL_FINE - 1},
               CAST(FLOOR(CAST({col} AS DOUBLE) / {w})
                    AS INT))) AS fb,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
          FROM lineitem"""
        for name, col, w in stats.QSTUMP_FEATURES
    )
    return f"""
    WITH pairs AS (
      {branches}
    ),
    h AS (
      SELECT {s}feature, fb, COUNT(*) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM pairs GROUP BY {s}feature, fb
    ),
    c AS (
      SELECT {s}feature, fb, n, pos,
             SUM(n) OVER ({sp}feature ORDER BY fb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
               ROW) AS cum,
             SUM(n) OVER ({sp}feature) AS nt
      FROM h
    ),
    bh AS (
      SELECT {s}feature,
             LEAST({stats.N_QTL_BUCKETS - 1},
               CAST(((cum - n) * {stats.N_QTL_BUCKETS}) // nt
                    AS INT)) AS bin,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS pos
      FROM c GROUP BY {s}feature, bin
    ),
    cum AS (
      SELECT {s}feature, bin AS split_bin,
             SUM(n) OVER ({sp}feature ORDER BY bin) AS nl,
             SUM(pos) OVER ({sp}feature ORDER BY bin) AS posl,
             SUM(n) OVER ({sp}feature) AS nt,
             SUM(pos) OVER ({sp}feature) AS post
      FROM bh
    ),
    gains AS (
      SELECT {s}feature, split_bin,
             CAST(nl AS BIGINT) AS n_left,
             CAST(posl AS BIGINT) AS pos_left,
             CAST(nt - nl AS BIGINT) AS n_right,
             CAST(post - posl AS BIGINT) AS pos_right,
             {stats.gini_gain_sql()} AS gain
      FROM cum WHERE nl < nt
    )
    SELECT {s}feature, split_bin, n_left, pos_left,
           n_right, pos_right, gain, (rg = 1) AS is_root
    FROM (SELECT *,
            ROW_NUMBER() OVER ({sp}feature
              ORDER BY gain DESC, split_bin) AS rf,
            ROW_NUMBER() OVER ({root_part}
              ORDER BY gain DESC, feature, split_bin) AS rg
          FROM gains)
    WHERE rf = 1
    """

REGISTRY.update(
    {
        "lineitem_status_reliability": QuerySpec(
            stats.lineitem_status_reliability,
            _enc_reliability_oracle(segment=True),
            "the encoding reliability audit split BY DATA SEGMENT "
            "(l_linestatus) against the one unsplit shipped grid — "
            "completes the per-segment audit matrix (scores: "
            "status_isotonic; encoded feature: this); counts "
            "marginalize exactly back to the unsplit audit",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_binned_stump": QuerySpec(
            stats.lineitem_binned_stump,
            f"""
            WITH h AS (
              SELECT GREATEST(0, LEAST({stats.N_QTL_FINE - 1},
                       CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)
                            / {stats.QTL_FINE_WIDTH}) AS INT))) AS fb,
                     COUNT(*) AS n,
                     CAST(SUM(CASE WHEN l_returnflag = 'R'
                              THEN 1 ELSE 0 END) AS BIGINT) AS pos
              FROM lineitem GROUP BY fb
            ),
            c AS (
              SELECT fb, n, pos,
                     SUM(n) OVER (ORDER BY fb ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum,
                     SUM(n) OVER () AS nt
              FROM h
            ),
            bh AS (
              SELECT '{_BSTUMP_FEATURE}' AS feature,
                     LEAST({stats.N_QTL_BUCKETS - 1},
                       CAST(((cum - n) * {stats.N_QTL_BUCKETS}) // nt
                            AS INT)) AS bin,
                     CAST(SUM(n) AS BIGINT) AS n,
                     CAST(SUM(pos) AS BIGINT) AS pos
              FROM c GROUP BY 1, 2
            ),
            cum AS (
              SELECT feature, bin AS split_bin,
                     SUM(n) OVER (PARTITION BY feature
                       ORDER BY bin) AS nl,
                     SUM(pos) OVER (PARTITION BY feature
                       ORDER BY bin) AS posl,
                     SUM(n) OVER (PARTITION BY feature) AS nt,
                     SUM(pos) OVER (PARTITION BY feature) AS post
              FROM bh
            ),
            gains AS (
              SELECT feature, split_bin,
                     CAST(nl AS BIGINT) AS n_left,
                     CAST(posl AS BIGINT) AS pos_left,
                     CAST(nt - nl AS BIGINT) AS n_right,
                     CAST(post - posl AS BIGINT) AS pos_right,
                     {stats.gini_gain_sql()} AS gain
              FROM cum WHERE nl < nt
            )
            SELECT feature, split_bin, n_left, pos_left,
                   n_right, pos_right, gain, (rb = 1) AS is_best
            FROM (SELECT *, ROW_NUMBER() OVER (
                    ORDER BY gain DESC, split_bin) AS rb
                  FROM gains)
            """,
            "decision stump on the equi-depth price-decile feature — "
            "the skew-robust binning composed with the histogram "
            "split criterion in ONE data scan (labeled fine "
            "histogram; bucket edges are closed-form rank arithmetic "
            "over counts the histogram already carries)",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_multi_binned_stump": QuerySpec(
            stats.lineitem_multi_binned_stump,
            _multi_stump_oracle(),
            "the full skew-robust split search: best equi-depth-decile "
            "Gini split per feature (each on its own adaptive bucket "
            "grid from its own fine-histogram closed form) with the "
            "global root flagged — one exploded data scan for all "
            "features",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "streaming_upsert_vacuum": QuerySpec(
            stream_windows.streaming_upsert_vacuum,
            f"""
            WITH latest AS (
              SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts
              FROM events GROUP BY user_id
            )
            SELECT 'retained' AS disposition, 1 AS n_versions,
                   COUNT(*) AS n_keys,
                   CAST(SUM(n_events) AS BIGINT) AS sum_n_events,
                   MAX(last_ts) AS max_last_ts
            FROM latest
            UNION ALL
            SELECT 'vacuumed', {stream_stateful.SESSION_SPAN_FILES - 1},
                   NULL, NULL, NULL
            """,
            "version-retention VACUUM over the merge-upsert sink: all "
            "superseded version snapshots deleted (count pinned to the "
            "span-staging batch count), the surviving latest table "
            "audited from disk and still equal to the one-shot batch "
            "aggregate",
            ("events", "streaming", "sink"),
        ),
        "lineitem_quantile_gbt": QuerySpec(
            stats.lineitem_quantile_gbt,
            _gbt_boost_oracle(2, base_cte=_quantile_binned_base_cte()),
            "two-stage gradient boosting on EQUI-DEPTH decile "
            "features — the LightGBM-shaped trainer: adaptive "
            "quantile binning via aggregate-sized broadcast "
            "fb->bucket maps feeding the identical closed-form "
            "residual recursion (only the bin definition changes)",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_quantile_tree": QuerySpec(
            stats.lineitem_quantile_tree,
            f"""
            WITH {_stump_ctes(_quantile_binned_base_cte())},
            {_TREE_TAIL_SQL}
            """,
            "greedy depth-2 tree on EQUI-DEPTH decile features — the "
            "fixed-bin tree's routing and per-child split search with "
            "the adaptive bin definition swapped in via broadcast "
            "bucket maps; completes the model stack on adaptive grids",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_status_multi_stump": QuerySpec(
            stats.lineitem_status_multi_stump,
            _multi_stump_oracle(segment=True),
            "the multi-feature adaptive split search PER SEGMENT "
            "(l_linestatus): each segment fits its own bucket grids "
            "and elects its own root — per-segment grids, windows, "
            "and root ranks threaded through the same closed forms; "
            "completes the stump family's per-segment matrix",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_encoding_stump": QuerySpec(
            stats.lineitem_encoding_stump,
            _enc_stump_oracle(),
            "the feature pipeline end to end: out-of-fold target "
            "encoding -> fixed centile binning -> best Gini split "
            "over the <= 100-row centile label histogram (shares the "
            "session-cached grid; the split answers whether the "
            "encoded categorical is worth shipping)",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_status_encoding_stump": QuerySpec(
            stats.lineitem_status_encoding_stump,
            _enc_stump_oracle(segment=True),
            "the encoded-feature stump PER SEGMENT against the one "
            "unsplit shipped grid — completes the stump leg of the "
            "per-segment matrix (a diverging segment boundary or gain "
            "marks where the shared encoding stops transferring)",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_status_quantile_tree": QuerySpec(
            stats.lineitem_status_quantile_tree,
            f"""
            WITH {_stump_ctes(
                _quantile_binned_base_cte(seg_sql="l_linestatus"),
                seg=True,
            )},
            {_tree_tail_sql(seg=True)}
            """,
            "the greedy depth-2 tree on EQUI-DEPTH decile features "
            "PER SEGMENT (l_linestatus): per-segment bucket maps, "
            "roots, and child split searches through the same closed "
            "forms — completes the per-segment model matrix on "
            "adaptive grids (stump / multi-stump / GBT / tree)",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_status_quantile_gbt": QuerySpec(
            stats.lineitem_status_quantile_gbt,
            _gbt_boost_oracle(
                2,
                base_cte=_quantile_binned_base_cte(seg_sql="l_linestatus"),
                seg=True,
            ),
            "the quantile-binned two-stage booster PER SEGMENT "
            "(l_linestatus): each segment fits its own equi-depth "
            "bucket maps and elects its own stage winners — the "
            "grouped leg of the trainer family, definitionally equal "
            "to the global trainer on each segment's filtered slice "
            "while paying one data scan per stage for all segments",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_status_quantile_gbt3": QuerySpec(
            stats.lineitem_status_quantile_gbt3,
            _gbt_boost_oracle(
                3,
                base_cte=_quantile_binned_base_cte(seg_sql="l_linestatus"),
                seg=True,
            ),
            "the per-segment quantile-binned booster at K = 3 — the "
            "depth knob on the grouped recursion (stage 3 carries "
            "both earlier per-segment memberships through the "
            "per-segment histograms); pinned greedy-prefix-stable "
            "against the per-segment K = 2 entry",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_quantile_gbt3": QuerySpec(
            stats.lineitem_quantile_gbt3,
            _gbt_boost_oracle(3, base_cte=_quantile_binned_base_cte()),
            "three-stage boosting on equi-depth deciles — the depth "
            "knob of the LightGBM-shaped trainer exercised on "
            "adaptive bins (same binned bridge, one more closed-form "
            "residual level)",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "streaming_upsert_retention": QuerySpec(
            stream_windows.streaming_upsert_retention,
            _upsert_retention_oracle(),
            "time-travel retention over the merge-upsert sink: a "
            "4-version history keeps the trailing 2 snapshots and "
            "ages the rest; every retained snapshot is audited from "
            "disk and replayed by the oracle from the staging's own "
            "span closed form (version v == running aggregate of "
            "spans 0..v)",
            ("events", "streaming", "sink"),
        ),
        "streaming_upsert_asof_read": QuerySpec(
            stream_windows.streaming_upsert_asof_read,
            _asof_read_oracle(),
            "the TIME-TRAVEL AS-OF READ over the partition-scoped "
            "merge-upsert sink: the table as of a pinned historical "
            "version, reconstructed per key group from that group's "
            "newest snapshot <= v (per-group latest-dir resolution is "
            "driver metadata; the scan touches only resolved snapshot "
            "files) — the oracle replays the whole historical keyed "
            "table from the span closed form",
            ("events", "streaming", "sink"),
        ),
        "streaming_upsert_changes": QuerySpec(
            stream_windows.streaming_upsert_changes,
            _upsert_changes_oracle(),
            "the CDC CHANGE FEED between two versions of the "
            "partition-scoped merge-upsert sink: per-key deltas "
            "v-1 -> v as insert rows plus update pre/post image "
            "pairs (the lakehouse Change Data Feed row protocol); "
            "both historical states resolve per group from directory "
            "metadata and the diff is one key-co-located join + a "
            "codegen CASE exploding 0-2 change rows per key",
            ("events", "streaming", "sink"),
        ),
        "streaming_upsert_changes_window": QuerySpec(
            stream_windows.streaming_upsert_changes_window,
            _upsert_changes_oracle(
                0, stream_windows.UPSERT_RETENTION_SPANS - 1
            ),
            "the NET-EFFECT CDC feed over the whole version window "
            "(0 -> final) of the partition-scoped sink: keys born "
            "mid-history collapse to single inserts carrying final "
            "values, surviving keys to one pre/post pair spanning "
            "the window — pinned equal to the composition of the "
            "stepwise feeds; same span-diff oracle with two literals",
            ("events", "streaming", "sink"),
        ),
        "streaming_upsert_changes_midwindow": QuerySpec(
            stream_windows.streaming_upsert_changes_midwindow,
            _upsert_changes_oracle(
                stream_windows.UPSERT_AS_OF_VERSION - 1,
                stream_windows.UPSERT_RETENTION_SPANS - 1,
            ),
            "the NET-EFFECT CDC feed over a MID-HISTORY window "
            "(v0 > 0 -> final) of the partition-scoped sink — both "
            "endpoints resolve per group through the latest-<=-v "
            "directory walk and the window spans multiple batches "
            "without reaching back to birth (the replay a consumer "
            "several versions behind runs); pinned equal to composed "
            "stepwise feeds; same span-diff oracle with two literals",
            ("events", "streaming", "sink"),
        ),
        "streaming_upsert_scd2": QuerySpec(
            stream_windows.streaming_upsert_scd2,
            _upsert_scd2_oracle(),
            "TYPE-2 (SCD2) history built ON the sink's version "
            "changelog: the birth state unioned with each stepwise "
            "CDC feed's insert/postimage rows, one key-partitioned "
            "window pass closing each validity interval at the next "
            "change — work scales with change volume, not versions x "
            "table size; the oracle rebuilds every per-version state "
            "from the span closed form and applies the same "
            "count-monotonicity change test + lead() closure",
            ("events", "streaming", "sink"),
        ),
        "streaming_upsert_compaction": QuerySpec(
            stream_windows.streaming_upsert_compaction,
            _grouped_compaction_oracle(),
            "the small-file compaction audit over the partition-"
            "scoped sink: every (version, group) partition's batch-"
            "accumulated fragments rewritten to right-sized files "
            "under the same layout, with per-partition file counts "
            "before/after AND the compacted contents proven intact — "
            "the weekly lakehouse maintenance job; file accounting "
            "is directory metadata, contents replay from the span "
            "closed form",
            ("events", "streaming", "sink", "maintenance"),
        ),
        "lineitem_status_gbt_isotonic": QuerySpec(
            stats.lineitem_status_gbt_isotonic,
            _status_qgbt_isotonic_oracle(),
            "per-segment isotonic (PAV) calibration of the grouped "
            "quantile-GBT margin — the deployment step after "
            "training: each segment's shipped leaf predictions "
            "(round-9, <= 4 distinct values) fit to a monotone "
            "score->probability map over the same 1024-bin "
            "histogram; trainer chain + scorer + PAV tail all one "
            "declarative replay",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "lineitem_gbt_isotonic": QuerySpec(
            stats.lineitem_gbt_isotonic,
            _qgbt_isotonic_oracle(seg=False),
            "isotonic (PAV) calibration of the GLOBAL quantile-GBT "
            "margin — the ungrouped twin completing the trainer <-> "
            "calibration matrix: the shipped 2-stage booster's "
            "round-9 leaf sums fit to one monotone map over the "
            "1024-bin histogram (1-row broadcast winner frame, "
            "global PAV tail, same scorer definition)",
            ("stats", "model", "lineitem", "pipeline"),
        ),
        "events_table_stats": QuerySpec(
            stats.events_table_stats,
            _table_stats_oracle(stats.EVENTS_STATS_COLS, "events"),
            "the ANALYZE operator on a SECOND table (events' numeric "
            "columns) — same one-scan Expand plan, same canonical "
            "round-9 double bounds; proves table_stats and its "
            "oracle renderer are table-generic",
            ("stats", "events", "maintenance"),
        ),
        "docs_leakage_safe_split": QuerySpec(
            dedup.docs_leakage_safe_split,
            _CC_CTES
            + """, comp AS (
      SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
    ),
    allmap AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS root
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT CASE WHEN root % """
            + str(dedup.SPLIT_HOLDOUT_MOD)
            + """ = 0 THEN 'holdout' ELSE 'train' END AS side,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT root) AS BIGINT) AS n_clusters,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM allmap GROUP BY side""",
            "LEAKAGE-SAFE train/holdout split: every document "
            "inherits its dedup-cluster root (singletons are their "
            "own), the whole cluster goes where its root goes — "
            "near-duplicates can never straddle the split (the "
            "contamination guard before any eval); per-side counts + "
            "doc_id checksum verify the exact assignment",
            ("docs", "dedup", "pipeline"),
        ),
        "lineitem_table_stats": QuerySpec(
            stats.lineitem_table_stats,
            _table_stats_oracle(stats.LINEITEM_STATS_COLS),
            "ANALYZE-style per-column table statistics in ONE scan "
            "(count / nulls / min / max / exact NDV over lineitem's "
            "numeric columns via the multi-count-distinct Expand "
            "plan) — the metastore stats a cost-based optimizer "
            "consumes; the approx (HLL++) swap for continuous "
            "refresh lives in functions/sketches.py",
            ("stats", "lineitem", "maintenance"),
        ),
        "lineitem_stats_incremental": QuerySpec(
            stats.lineitem_stats_incremental,
            _stats_incremental_oracle(
                "lineitem", stats.LINEITEM_STATS_COLS
            ),
            "the INCREMENTAL (sketch-merged) table-stats refresh: "
            "per ingest batch each column reduces to a mergeable "
            "partial (counts, bounds, DataSketches HLL sketch), the "
            "refresh merges fixed-size partials (sum/min/max/"
            "hll_union_agg) without rescanning history; exact fields "
            "hash-match the whole-table truth (the merge == whole "
            "proof) and the merged NDV estimate is certified in-plan "
            "against a 10% envelope of the exact distinct",
            ("stats", "lineitem", "maintenance", "sketch"),
        ),
        "streaming_upsert_write_amplification": QuerySpec(
            stream_windows.streaming_upsert_write_amplification,
            _write_amplification_oracle(),
            "per-version WRITE-AMPLIFICATION audit of the partition-"
            "scoped sink: rows the storage layer rewrote (touched "
            "groups' full snapshots) vs keys the batch changed (the "
            "delta's distinct users) — the copy-on-write layout's "
            "headline metric, one basePath tree scan + the span "
            "deltas, read-only over the session-cached drain",
            ("events", "streaming", "sink", "maintenance"),
        ),
        "streaming_upsert_group_retention": QuerySpec(
            stream_windows.streaming_upsert_group_retention,
            _grouped_upsert_retention_oracle(),
            "grouped (per-key-range) time-travel retention over the "
            "PARTITION-SCOPED merge-upsert sink: each batch writes "
            "only the key-group partitions its delta touches, each "
            "group keeps the trailing 2 versions of its own write "
            "history, and every retained (group, version) partition "
            "is audited from disk and replayed by the oracle from "
            "the span closed form — the lakehouse partitioned-VACUUM "
            "shape over plain parquet",
            ("events", "streaming", "sink"),
        ),
        "streaming_dlq_retention": QuerySpec(
            stream_windows.streaming_dlq_retention,
            f"""
            WITH tagged AS (
              SELECT *, {_DLQ_CASE} AS r1 FROM events
            ),
            re AS (
              SELECT *, {_REDRIVE_CASE} AS r2
              FROM tagged WHERE r1 IS NOT NULL
            )
            SELECT CASE WHEN r2 IS NULL THEN 'aged_out'
                        ELSE 'retained' END AS disposition,
                   CASE WHEN r2 IS NULL THEN r1 ELSE r2 END AS reason,
                   event_type,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(SUM(event_id) AS BIGINT) AS sum_event_id
            FROM re GROUP BY 1, 2, 3
            """,
            "DLQ retention/compaction — the maintenance member of the "
            "DLQ lifecycle: rows the corrected rules clear are aged "
            "out of the queue (audited under their ORIGINAL quarantine "
            "reason), survivors are rewritten as a right-size-compacted "
            "next-generation queue tree and summarized from the "
            "compacted files themselves",
            ("events", "streaming", "sink"),
        ),
        "streaming_dlq_age_retention": QuerySpec(
            stream_windows.streaming_dlq_age_retention,
            f"""
            WITH b AS (
              SELECT MIN(epoch_us(ts)) AS lo2,
                     ((MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
                       // {stream_windows.DLQ_SPAN_FILES} + 1) AS step
              FROM events
            ),
            qr AS (
              SELECT e.*, {_DLQ_CASE} AS reason,
                     CAST((epoch_us(ts) - lo2) // step AS INT) AS epoch,
                     epoch_us(ts) AS us
              FROM events e, b
              WHERE {_DLQ_CASE} IS NOT NULL
            ),
            bounds AS (SELECT MIN(us) AS lo, MAX(us) AS wm FROM qr),
            disp AS (
              SELECT epoch,
                     CASE WHEN MAX(us) <
                            wm - ((wm - lo) * {stream_windows.DLQ_AGE_NUM})
                                 // {stream_windows.DLQ_AGE_DEN}
                          THEN 'aged_out' ELSE 'retained'
                     END AS disposition
              FROM qr, bounds GROUP BY epoch, wm, lo
            )
            SELECT d.disposition, q.epoch, q.reason, q.event_type,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT q.user_id) AS n_users,
                   CAST(SUM(q.event_id) AS BIGINT) AS sum_event_id
            FROM qr q JOIN disp d ON d.epoch = q.epoch
            GROUP BY 1, 2, 3, 4
            """,
            "DLQ retention with an EPOCH-AGE policy: whole ingest "
            "epochs age out once their newest event falls behind the "
            "watermark by half the quarantine's observed time range "
            "(BIGINT-microsecond cutoff arithmetic, exactly "
            "replayable); retained epochs are rewritten compacted "
            "with epoch preserved and summarized from the compacted "
            "tree — the time-based complement of the rule-outcome "
            "retention entry",
            ("events", "streaming", "sink"),
        ),
        "streaming_dlq_policy_retention": QuerySpec(
            stream_windows.streaming_dlq_policy_retention,
            f"""
            WITH b AS (
              SELECT MIN(epoch_us(ts)) AS lo2,
                     ((MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
                       // {stream_windows.DLQ_SPAN_FILES} + 1) AS step
              FROM events
            ),
            qr AS (
              SELECT e.*, {_DLQ_CASE} AS reason,
                     CAST((epoch_us(ts) - lo2) // step AS INT) AS epoch,
                     epoch_us(ts) AS us
              FROM events e, b
              WHERE {_DLQ_CASE} IS NOT NULL
            ),
            bounds AS (SELECT MIN(us) AS lo, MAX(us) AS wm FROM qr),
            disp AS (
              SELECT epoch, reason,
                     CASE WHEN MAX(us) < {_DLQ_POLICY_CUTOFF_SQL}
                          THEN 'aged_out' ELSE 'retained'
                     END AS disposition
              FROM qr, bounds GROUP BY epoch, reason, wm, lo
            )
            SELECT d.disposition, q.epoch, q.reason, q.event_type,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT q.user_id) AS n_users,
                   CAST(SUM(q.event_id) AS BIGINT) AS sum_event_id
            FROM qr q JOIN disp d
              ON d.epoch = q.epoch AND d.reason = q.reason
            GROUP BY 1, 2, 3, 4
            """,
            "DLQ retention under a PER-REASON age policy: each "
            "quarantine reason carries its own maximum age (error "
            "telemetry ages at 1/4 of the observed range, "
            "out-of-range values kept 3x longer), ageing at (epoch, "
            "reason) granularity — the policy-table generalization "
            "of the epoch-age entry, same lazy broadcast-disposition "
            "shape and compacted rewrite",
            ("events", "streaming", "sink"),
        ),
    }
)


# Registry order is the sorted entry names: independent of the
# files in the repo root and of the order the blocks above were added.
REGISTRY = dict(sorted(REGISTRY.items()))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }


def oracle_for(name: str, sf_dir: str) -> str | None:
    """SF-aware oracle lookup for LOCAL harnesses (the driver's static
    ``oracle_sql()`` contract stays pinned to the gate SF, sf0.01).

    Identical to ``REGISTRY[name].oracle`` except for entries whose
    oracle embeds a constant OF THE DATASET: ``kmeans_converged``
    unrolls the measured trajectory length, which differs per SF
    (sf0.001 converges in 13 rounds, sf0.01 in 19) — verifying at a
    non-gate SF must render the matching unroll or the comparison
    tests the wrong trajectory. Unknown SFs raise KeyError (fail loud;
    measure the trajectory once and add it to
    vector.KMEANS_CONVERGED_ROUNDS)."""
    if name == "kmeans_converged":
        return _kmeans_converged_oracle(vector.converged_rounds_for(sf_dir))
    if name == "docs_kcore_neardup":
        return _k_core_oracle(dedup.kcore_rounds_for(sf_dir))
    if name == "source_binaryfile_ingest":
        # the static oracle embeds the GATE SF's filesystem path
        # (read_blob takes a path, not a view) — cross-scale local
        # verification must render the glob for the SF under test or
        # the oracle hashes sf0.01's files against an sf0.001 run
        # (caught by the r15 round-close sf0.001 driver-sim sweep)
        return roundtrip.binaryfile_oracle(sf_dir)
    return REGISTRY[name].oracle
