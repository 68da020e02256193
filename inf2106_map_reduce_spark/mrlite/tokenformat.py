"""Token key/value text format (the reference's only I/O format).

Semantics (SURVEY.md §1.2, from ``user/TokenRecordReader.java:139-189``
and ``TokenRecordWriter.java:85``):

- a dataset is a flat text stream of tokens separated by whitespace;
- a token ``k|v`` is the record ``(k, v)``;
- a token with no ``|`` is raw input text: key defaults to the constant
  ``"none"``, value = the token;
- writing serializes each record as ``key|value`` followed by a space.

Scale note: this format is line/space-delimited text — Spark splits it
by byte ranges with record-boundary handling only at newlines, so at
real scale inputs should carry newlines (our writer emits one record
per line by default, which is both split-friendly and
whitespace-compatible with the reference reader). The single-space
stream variant (``serialize_records``) exists only for golden-file
parity with the committed reference artifacts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Default key for raw (un-piped) tokens — ``TokenRecordReader.java:33``.
NONE_KEY = "none"


#: The reference reader's fixed word buffer (``TokenRecordReader.java:37``
#: ``buffWord = new char[1000]``): a longer token is silently emitted as
#: successive 1000-char chunks, each re-parsed for ``|``
#: (``TokenRecordReader.java:88-94`` — ``lookup`` returns early when the
#: buffer fills, without consuming a separator).
REFERENCE_TOKEN_CAP = 1000


def read_token_file(
    spark: SparkSession, path: str, max_token_chars: int | None = None
) -> DataFrame:
    """Scan a token file into a ``(key, value)`` DataFrame.

    Equivalent of S2 (``TokenRecordReader``): tokenize on whitespace,
    split each token on the first ``|``; un-piped tokens get key
    ``"none"``. Entirely built-in expressions — stays inside
    whole-stage codegen, no Python in the hot path.

    ``max_token_chars`` opts into the reference reader's buffer quirk:
    tokens longer than the cap are silently split into cap-sized
    chunks, each independently pipe-parsed (pass
    :data:`REFERENCE_TOKEN_CAP` for byte-parity with the reference;
    the default ``None`` keeps tokens whole, which is what every
    non-parity consumer wants).
    """
    lines = spark.read.text(path)
    tok = F.explode(F.split(F.col("value"), r"\s+")).alias("tok")
    tokens = lines.select(tok).filter(F.col("tok") != "")
    if max_token_chars is not None:
        cap = max_token_chars
        n_chunks = F.ceil(F.length("tok") / cap).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.col("tok").substr(i * cap + 1, F.lit(cap)),
        )
        tokens = tokens.select(F.explode(chunks).alias("tok"))
    has_pipe = F.instr("tok", "|") > 0
    key = F.when(has_pipe, F.substring_index("tok", "|", 1)).otherwise(
        F.lit(NONE_KEY)
    )
    value = F.when(
        has_pipe, F.expr("substring(tok, instr(tok, '|') + 1)")
    ).otherwise(F.col("tok"))
    return tokens.select(key.alias("key"), value.alias("value"))


def write_token_file(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Write a ``(key, value)`` DataFrame as token text, one ``k|v``
    record per line (R4 / ``TokenRecordWriter``). ``single_file``
    coalesces to one output part — only for small golden-file parity
    outputs, never at scale.
    """
    out = df.select(F.concat_ws("|", "key", "value").alias("value"))
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)


def serialize_records(df: DataFrame) -> DataFrame:
    """Per-partition single-string serialization ``k|v k|v ... `` —
    byte-compatible with the reference writer's output stream."""
    rec = F.concat(F.col("key"), F.lit("|"), F.col("value"), F.lit(" "))
    return df.select(rec.alias("record"))
