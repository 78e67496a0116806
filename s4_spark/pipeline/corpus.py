"""Corpus-prep pipeline: quality filter → exact dedup → MinHash-LSH
near-dup removal. One code path: ``cli corpus`` runs it over an
arbitrary documents directory, and q130 runs it over the registry's
documents table and checks the result against its DuckDB oracle (the
reference's whole program is one such ingest job, main.go:106-140 —
this is its training-data descendant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s4_spark.operators import dedup as D
from s4_spark.operators import text as X


def prepare_corpus(
    docs: DataFrame,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.5,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Returns the cleaned corpus (same schema as input plus the quality
    feature columns). q130's docstring describes the stages; SCALE.md
    §B12 gives the 100 TB argument per stage."""
    d = X.quality_features(docs).filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("punct_ratio") <= max_punct_ratio)
    )
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    kept = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    sig = D.with_minhash_signature(D.shingles_exploded(kept, "doc_id"), "doc_id")
    # no cut here: verify_pairs_jaccard already cuts its pairs input
    # lazily, and ReusedExchange dedups the twice-referenced subtree
    cands = D.lsh_candidate_pairs(sig, "doc_id", bands=24, rows=4)
    removed = (
        D.verify_pairs_jaccard(cands, kept, "doc_id")
        .filter(F.col("jac") >= jaccard_threshold)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return kept.join(removed, "doc_id", "left_anti")
