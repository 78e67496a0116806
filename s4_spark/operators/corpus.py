"""Corpus-preparation operators for large-scale training-data pipelines
(the driver's training-data mandate, beyond the reference's surface —
the reference moves raw records only, /root/reference/lake/lake.go:65-90):
chunking, deterministic sampling/mixing, sequence packing, PII redaction,
embedding quantization, tf-idf retrieval.

Design rules shared by every operator here:
- all hot-path expressions are JVM-side built-ins (split/slice/sequence/
  regexp_*); Python never touches row data;
- randomness is replaced by content hashes (md5-prefix mod N), so every
  run — and every retry of a failed task at 100 TB — selects the same
  rows (idempotent sampling, the property ``rand()`` cannot give);
- per-document work is embarrassingly parallel (narrow transforms);
  the only shuffles are the final small aggregations and the explicitly
  documented window in :func:`pack_sequences`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^ ]+"


def hash_bucket(text: Column, buckets: int = 1000, hex_digits: int = 6) -> Column:
    """Deterministic content-hash bucket in [0, buckets): first
    ``hex_digits`` hex digits of md5 as an integer, mod buckets.
    Identical on any engine with a standard md5 (DuckDB mirror:
    ``('0x' || substr(md5(x), 1, hex_digits))::BIGINT % buckets``).

    Key-space bound: the prefix spans ``16^hex_digits`` values, so
    ``buckets`` must stay well below that or the effective bucket count
    saturates and modulo bias skews sizes (at buckets ≈ 10% of the
    space the largest/smallest expected bucket ratio is already ~2:1).
    The default 6 digits (16.7M values) suits permille-style sampling
    with bounded bucket counts; callers that derive ``buckets`` from
    corpus size (q216's N/64 pools) pass 12 digits (2.8e14 values —
    saturation at N ≈ 1.8e16 docs, four decades past the 100 TB
    mandate). 12 hex digits = 48 bits still converts exactly inside
    both engines' int64."""
    return (
        F.conv(F.substring(F.md5(text), 1, hex_digits), 16, 10).cast("long")
        % buckets
    )


def sample_by_hash(df: DataFrame, text_col: str, permille: Column) -> DataFrame:
    """Keep rows whose content-hash bucket (of 1000) falls below the
    per-row ``permille`` rate — deterministic stratified Bernoulli
    sampling. A narrow filter: no shuffle, fully pushdown-friendly."""
    return df.filter(hash_bucket(F.col(text_col)) < permille)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into token windows of ``chunk_size`` starting
    every ``stride`` tokens (the standard overlap-chunking step before
    tokenization/packing). Emits one row per chunk with ``chunk_start``
    (1-based), ``chunk`` (text) and ``n_chunk_tokens``; the final chunk
    may be short. Narrow explode — scales linearly, no shuffle."""
    w = F.split(F.col(text_col), " ")
    out = df.withColumn("__n", F.size(w)).withColumn(
        "chunk_start",
        F.explode(F.sequence(F.lit(1), F.col("__n"), F.lit(stride))),
    )
    piece = F.slice(F.split(F.col(text_col), " "), F.col("chunk_start"), chunk_size)
    return (
        out.withColumn("chunk", F.concat_ws(" ", piece))
        .withColumn("n_chunk_tokens", F.least(F.lit(chunk_size), F.col("__n") - F.col("chunk_start") + 1))
        .drop("__n")
    )


def pack_sequences(
    df: DataFrame,
    part_col: str,
    order_col: str,
    tokens_col: str,
    capacity: int,
) -> DataFrame:
    """Contiguous sequence packing: within each ``part_col`` shard, lay
    documents out in ``order_col`` order as one token stream and assign
    ``bin = floor(start_offset / capacity)`` — the packed-context-window
    id. One window cumsum per shard.

    Scale note: packing is inherently sequential, so at 100 TB the shard
    key must bound per-shard volume (e.g. (source, date-bucket)), giving
    thousands of independent packing streams; a single global pack would
    serialize on one task. The operator takes the shard key explicitly
    for exactly that reason."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return df.withColumn("pack_bin", F.floor(offset / capacity))


def redact_pii(text: Column) -> Column:
    """Replace emails then URLs with typed placeholder tags — the
    anonymization pass of a web-corpus pipeline. Pure JVM regex."""
    red = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(red, URL_RE, "<URL>")


def tfidf_scores(docs: DataFrame, terms: list[str], id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """tf-idf relevance of each document to a bag of query terms:
    score(d) = Σ_t tf(t,d) · ln(N / df(t)). The token explode is
    pre-filtered to the query terms (predicate pushes below the
    aggregation), so the shuffled volume is |matches|, not |tokens|;
    df(t) and N are tiny aggregates broadcast back onto the tf side."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.col("w").isin(terms))
    tf = toks.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.countDistinct(id_col).alias("df"))
    n = docs.select(F.count("*").alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(n)).select(
        "w", F.log(F.col("n_docs").cast("double") / F.col("df")).alias("idf")
    )
    return (
        tf.join(F.broadcast(idf), "w")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("tf") * F.col("idf")), 6).alias("score"))
    )
