"""Text analysis operators over the ``documents`` table: token
counting, quality scoring, language-ID heuristic, fingerprinting.

All pure built-in expressions (split/regexp/md5) — whole-stage codegen,
zero Python per row. Each has an exact DuckDB oracle (registry).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.session import session_cache
from inf2106_map_reduce_spark.tables import load_table

# Tiny language-marker stopword lists for the heuristic language ID.
# Deterministic and oracle-expressible; a real pipeline would swap in
# fastText — the Spark-side shape (per-doc score per language, argmax)
# is what matters at scale.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "is", "to", "in")


def words_col(text: str | Column = "text") -> Column:
    """Whitespace tokenization with empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda w: w != "")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword-regex token count
    (letters / digits / single other chars — a cheap proxy with the
    same plan shape as a real pretokenizer regex)."""
    ws = F.size(words_col(text_col))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), 0))
    return df.withColumns({"n_tokens_ws": ws, "n_tokens_bpe": bpe})


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, word stats, punctuation /
    uppercase / stopword ratios. Ratios rounded to 6 for oracle
    stability."""
    words = words_col(text_col)
    n_words = F.size(words)
    n_chars = F.length(F.col(text_col))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
    n_upper = F.length(F.regexp_replace(F.col(text_col), r"[^A-Z]", ""))
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(*STOPWORDS)))
    safe = lambda num, den: F.round(num.cast("double") / F.greatest(den, F.lit(1)), 6)  # noqa: E731
    return df.withColumns(
        {
            "n_chars_m": n_chars,
            "n_words": n_words,
            "avg_word_len": safe(n_chars - n_words + 1, n_words),
            "punct_ratio": safe(n_punct, n_chars),
            "upper_ratio": safe(n_upper, n_chars),
            "stopword_ratio": safe(n_stop, n_words),
        }
    )


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: per-language marker-word hit counts and
    argmax guess ('und' when no marker hits)."""
    words = words_col(text_col)
    out = df
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(words, lambda w: F.lower(w).isin(*markers)))
        out = out.withColumn(f"score_{lang}", hits)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    guess = F.when(best <= 0, F.lit("und"))
    # Deterministic tie-break: first language in fixed order wins.
    for lang in LANG_MARKERS:
        guess = guess.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return out.withColumn("lang_guess", guess)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of the normalized text (lowercased,
    whitespace collapsed) + a 64-bit integer prefix for compact joins.

    The reference has no content hashing at all; this is the exact-dup
    key used by :mod:`inf2106_map_reduce_spark.functions.dedup`.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    h = F.md5(norm)
    h64 = F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")
    return df.withColumns({"fp_md5": h, "fp_int64": h64})


def unigram_tf_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The unigram substrate shared by the whole scoring family:
    ``(id, word, tf)`` term counts over non-empty whitespace tokens of
    the normalized text — exactly the explode + grouped count that
    :func:`tfidf`, ``unigram_logprob``, ``unigram_entropy`` and
    ``dsir_scores`` each rebuilt per query before r16."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    w = df.select(
        F.col(id_col), F.explode(F.split(norm, " ")).alias("word")
    ).filter(F.col("word") != "")
    return w.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))


def registry_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed unigram (doc, word, tf) stage over the documents
    corpus, shared per session by the five docs scoring entries
    (tfidf_terms, docs_unigram_logprob, docs_entropy, docs_dsir_scores,
    docs_adaptive_quality)."""
    return session_cache(
        spark,
        ("unigram_tf", sf_dir),
        lambda: unigram_tf_table(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True),
    )


def tfidf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-(doc, word) TF-IDF over normalized words: raw term count,
    document frequency, and tf · (ln((N+1)/(df+1)) + 1) (smoothed IDF,
    sklearn-style).

    Plan: one explode + two grouped aggregations + a broadcast-able
    word-level join; the corpus size N is an aggregated scalar joined
    in (no driver action). No ranking/top-k inside — downstream callers
    pick their own cut, and the unranked table has a deterministic
    oracle (float ties in tf·idf can rank-swap across engines).
    ``tf`` short-circuits the term-count build with a precomputed
    :func:`unigram_tf_table` frame (the shared registry stage)."""
    if tf is None:
        tf = unigram_tf_table(df, id_col, text_col)
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "word",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: full per-document text-analysis record."""
    d = load_table(spark, sf_dir, "documents")
    out = fingerprint(lang_scores(quality_features(token_counts(d))))
    return out.select(
        "doc_id",
        "n_tokens_ws",
        "n_tokens_bpe",
        "n_words",
        "punct_ratio",
        "upper_ratio",
        "stopword_ratio",
        "lang_guess",
        "fp_md5",
        "fp_int64",
    )


def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: guessed-language distribution vs labeled lang."""
    d = load_table(spark, sf_dir, "documents")
    out = lang_scores(d)
    return out.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n"))


def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: full (doc, word) TF-IDF table over documents,
    derived from the shared session token-count stage."""
    return tfidf(
        load_table(spark, sf_dir, "documents"),
        tf=registry_token_counts(spark, sf_dir),
    )


def bigrams_udtf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one input row → N output
    rows with schema declared on the class — the modern form of the
    reference's Mapper contract (1→N ``OutputCollector.collect``,
    ``mapreduce/idl/mapReduce.idl:70-73``), invoked via SQL LATERAL.

    Scale: row-at-a-time Python — the slowest UDF tier (each row
    crosses the JVM↔Python boundary individually). Sanctioned only for
    logic that genuinely can't vectorize; the equivalent built-in form
    (transform over a split array) stays JVM-side, which is why only
    this one registry query uses a UDTF.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, bigram string")
    class Bigrams:
        def eval(self, text: str):
            ws = text.split(" ")
            for i in range(len(ws) - 1):
                yield i, ws[i] + " " + ws[i + 1]

    spark.udtf.register("bigrams_udtf", Bigrams)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    ).createOrReplaceTempView("docs_sample")
    return spark.sql(
        """
        SELECT doc_id, b.idx, b.bigram
        FROM docs_sample, LATERAL bigrams_udtf(text) b
        """
    )


BIGRAMS_UDTF_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE doc_id % 20 = 0
),
i AS (SELECT doc_id, ws, unnest(range(0, len(ws) - 1)) AS idx FROM w)
SELECT doc_id, CAST(idx AS INT) AS idx,
       ws[idx + 1] || ' ' || ws[idx + 2] AS bigram
FROM i
"""


def regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: BPE-ish regex tokenization — letter runs, digit
    runs, and single non-space symbols as separate tokens (the
    pre-tokenizer split GPT-style BPE vocabularies assume), vs the
    whitespace count. Pure ``regexp_extract_all`` JVM expressions; the
    same RE2-class pattern runs in DuckDB, so counts hash-match.

    Scale: narrow per-row pass, no shuffle; this is the cheap
    token-budget estimator a corpus pipeline runs before the real
    (Python) tokenizer touches anything.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(
        r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(words_col("text")).alias("n_whitespace_tokens"),
    )


def bpe_pair_counts(
    df: DataFrame,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First BPE-training merge step (Sennrich et al. ACL'16): count
    adjacent character-pair frequencies across the corpus, weighted by
    word frequency — the argmax pair is the merge a BPE tokenizer
    would learn next. Emits the top-k pairs with their corpus counts
    and the deterministic merge rank.

    Plan: one tokenize+groupBy builds the word-frequency table
    (vocabulary-sized, Zipf-bounded — the scan cost, everything after
    is vocab-scale); pairs explode from each DISTINCT word (len-1
    pairs per word, char ops JVM-side), weighted by its count, one
    vocab-scale aggregation, then a k-bounded TakeOrdered + rank. At
    100 TB the word table is the only corpus-wide shuffle — identical
    shape to vocabulary building.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    w = df.select(F.explode(F.split(norm, " ")).alias("word")).filter(
        F.col("word") != ""
    )
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    pairs = vocab.filter(F.length("word") >= 2).select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.col("word").substr(i, F.lit(1)),
                    F.col("word").substr(i + 1, F.lit(1)),
                ),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("wc").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("pair")).limit(top_k)
    rank_w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return top.withColumn("merge_rank", F.row_number().over(rank_w)).select(
        "merge_rank", "pair", "n"
    )


def vocab_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: top-20 BPE merge candidates over documents."""
    return bpe_pair_counts(load_table(spark, sf_dir, "documents"))


#: Rounds of the iterative BPE trainer registry entry — enough that
#: later merges visibly build on earlier ones (a round-3 top pair can
#: contain a round-1 merged symbol).
BPE_TRAIN_ROUNDS = 6


def bpe_train_merges(
    df: DataFrame,
    rounds: int = BPE_TRAIN_ROUNDS,
    text_col: str = "text",
) -> DataFrame:
    """Iterative BPE training (Sennrich et al. ACL'16), merges
    APPLIED: where :func:`bpe_pair_counts` stops at the first argmax,
    this runs the real loop — count weighted adjacent symbol pairs
    over the vocabulary, merge the top pair into one symbol in every
    word, recount, repeat. Later rounds see earlier merges, so the
    output is the ordered merge TABLE a tokenizer ships. One row per
    round: the learned pair, its count at selection time, and the
    weighted corpus symbol count after applying it (hash-checking the
    merge's APPLICATION, not just its selection).

    Representation: each word's symbol sequence is a string
    ``' s1  s2  ...  sn '`` — two spaces BETWEEN symbols, one at each
    end, so every symbol owns one bracketing space per side. The merge
    is then a literal ``replace(seq, ' a  b ', ' ab ')``: matches can
    never share characters (consecutive ``a b a b`` merges both
    pairs, exactly BPE's non-overlapping left-to-right semantics),
    and the same literal-replace runs identically in DuckDB, making
    the whole trajectory SQL-mirrorable.

    Scale: the loop state is the VOCABULARY (word, seq, count) —
    Zipf-bounded, not corpus-sized; one corpus-wide shuffle builds it,
    after which every round is a vocab-scale aggregate + a narrow
    replace. The per-round driver collect is the top-1 pair (3
    values) — the k-means centroid pattern — together with the
    previous round's symbol total, so ``rounds`` merges cost
    ``rounds + 1`` collects. Ties break deterministically: count
    desc, then (token_a, token_b) asc.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    w = df.select(F.explode(F.split(norm, " ")).alias("word")).filter(
        F.col("word") != ""
    )
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(
            "wc",
            F.concat(
                F.lit(" "),
                F.concat_ws("  ", F.split(F.col("word"), "")),
                F.lit(" "),
            ).alias("seq"),
        )
        .localCheckpoint(eager=True)
    )
    symbols = F.split(F.trim(F.col("seq")), "  ")
    # Guard single-symbol words INSIDE the expression (empty array),
    # not with a filter after the explode: sequence(1, 0) DESCENDS to
    # [1, 0] in Spark, so an unguarded transform would evaluate
    # element_at(symbols, 0) and only optimizer predicate-pushdown
    # would save it — the duplicate_span_report pattern
    pair_arr = F.when(
        F.size(symbols) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(symbols) - 1),
            lambda i: F.struct(
                F.element_at(symbols, i).alias("a"),
                F.element_at(symbols, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    out_rows: list[tuple] = []
    v = vocab
    # One collect per round: round r's top pair, plus (as a row with
    # null tokens) the symbol total of round r-1's merged vocabulary —
    # its corpus_symbols_after. The final query is that total alone.
    for r in range(1, rounds + 2):
        parts = []
        if r <= rounds:
            parts.append(
                v.select("wc", F.explode(pair_arr).alias("p"))
                .groupBy("p.a", "p.b")
                .agg(F.sum("wc").alias("n"))
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1)
            )
        if out_rows:
            parts.append(
                v.agg(F.sum(F.col("wc") * F.size(symbols)).alias("n")).select(
                    F.lit(None).cast("string").alias("a"),
                    F.lit(None).cast("string").alias("b"),
                    "n",
                )
            )
        if not parts:
            break
        q = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        top = None
        for row in q.collect():
            if row["a"] is None:
                out_rows[-1] += (int(row["n"]),)
            else:
                top = row
        if top is None:
            break
        a, b = top["a"], top["b"]
        out_rows.append((r, a, b, int(top["n"])))
        v = v.select(
            "wc",
            F.replace(
                F.col("seq"),
                F.lit(f" {a}  {b} "),
                F.lit(f" {a}{b} "),
            ).alias("seq"),
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        out_rows,
        "merge_rank int, token_a string, token_b string, "
        "pair_count bigint, corpus_symbols_after bigint",
    )


def vocab_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: 6 applied BPE merge rounds over documents."""
    return bpe_train_merges(load_table(spark, sf_dir, "documents"))
