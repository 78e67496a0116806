#!/usr/bin/env python
"""Build a k-times scaled copy of a test SF directory for scale probes.

Usage: python bench/make_scaled_sf.py <src_sf_dir> <out_dir> <k> [table ...]

With no tables named every table is built; naming some (e.g.
``documents`` for the corpus probes, ``embeddings`` for the ANN family,
``events`` for the event-analytics and stream rigs) builds only those,
and reads only the key domains they need — ``<src_sf_dir>`` then needs
just those tables (plus the tables owning their foreign keys).

The driver ships sf0.001/0.01/0.1 only; the 100 TB mandate needs
evidence the headline plans keep their shape ANOTHER decade (or two) up,
so this builds an sf1/sf10-equivalent from sf0.1 with per-table rules
that preserve each operator family's workload *character* (dup-rate,
join fan-in, group cardinality growth) rather than naively duplicating
rows:

- region/nation: unchanged (TPC-H holds dimensions fixed across SF).
- supplier/part/customer/orders/lineitem: k copies with every key
  column shifted by i * (max_key + 1) per key domain, exactly how a
  bigger TPC-H SF grows (more entities, same distributions; referential
  integrity preserved because both sides of every FK shift together).
- events: k copies, event_id/user_id shifted -> k-times users over the
  same time range, so per-bucket volumes and per-user sessions grow the
  way real event feeds grow.
- documents: doc_id shifted; copy i > 0 gets an INJECTIVE VOCAB RENAME
  (every token suffixed `_<salt>c<i>` — the salt, the output dir's
  basename, keeps the rename injective across COMPOSED build levels
  whose dirs are named apart; see build()'s comment for the round-10
  collision this fixes). Shingle equality is invariant under
  injective renaming, so each copy reproduces the source's internal
  near-dup structure exactly while sharing zero shingles/tokens across
  copies: dup-rate stays constant as the corpus grows -- the honest
  model for a bigger crawl. n_chars is recomputed (the source keeps
  n_chars == length(text)).
- embeddings: vec_id shifted; copy i applies an ORTHOGONAL transform
  (rotate coordinates by i mod dim, then a sign pattern drawn from the
  high bits of i for k > dim) -- distances/cosines within a copy are
  exactly preserved, cross-copy geometry is scrambled, so ANN index
  selectivity and topk tie structure scale like a genuinely larger
  corpus instead of k exact duplicates of every vector.

Outputs <out_dir>/<table>.parquet directories readable by the same
catalog loaders the queries use. Probe results are recorded in SCALE.md
("Measured scaling"); run bench.py against the output via
SPARK_GRAFT_SF_DIR=<out_dir>.
"""

from __future__ import annotations

import functools
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

PLAIN = ("region", "nation")

#: Shifted key columns per table, each with the (table, column) whose max
#: sizes its key domain — both sides of a foreign key shift together.
KEYS = {
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "orders": {
        "o_orderkey": ("orders", "o_orderkey"),
        "o_custkey": ("customer", "c_custkey"),
    },
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "events": {
        "event_id": ("events", "event_id"),
        "user_id": ("events", "user_id"),
    },
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}

TABLES = PLAIN + tuple(KEYS)


def _copies(df: DataFrame, k: int, fn) -> DataFrame:
    parts = [fn(df, i) for i in range(k)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _rename_tokens(df: DataFrame, i: int, salt: str) -> DataFrame:
    # salt makes the suffix level-unique: `_sf10c1` from one build
    # level can never equal `_sf100c1` from the next, so composing
    # builds keeps zero cross-copy token overlap (copy 0 stays
    # un-renamed, which is safe once salts differ per level)
    renamed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda x: F.concat(x, F.lit(f"_{salt}c{i}")),
        ),
        " ",
    )
    return df.withColumn("text", renamed).withColumn("n_chars", F.length("text"))


def _transform_vectors(df: DataFrame, i: int, salt: str, dim: int) -> DataFrame:
    # Rotation step and sign pattern are keyed by (salt, i): plain
    # rotate-by-i composed across levels collides exactly like the
    # token suffixes (rotate i then j == rotate j then i == rotate
    # i+j, so paths with equal index sums were coordinate-identical
    # vectors). A salt-keyed odd step de-aliases rotation amounts
    # across levels and the per-copy sign flip (still orthogonal —
    # within-copy geometry exact) makes a residual rotation
    # collision across levels vanishingly unlikely instead of
    # structural.
    h = int.from_bytes(hashlib.md5(f"{salt}:{i}".encode()).digest()[:8], "big")
    step = (h % (dim - 1)) + 1
    r = (i * step) % dim
    rotated = (
        F.concat(
            F.slice(F.col("embedding"), r + 1, dim - r),
            F.slice(F.col("embedding"), 1, r),
        )
        if r
        else F.col("embedding")
    )
    signs = [-1.0 if (h >> (8 + (j % 48))) & 1 else 1.0 for j in range(dim)]
    rotated = F.zip_with(
        rotated,
        F.array(*[F.lit(s) for s in signs]),
        lambda x, s: (x * s).cast("float"),
    )
    return df.withColumn("embedding", rotated)


def build(spark, src: str, out: str, k: int, tables=TABLES) -> None:
    # The salt keys the per-copy text rename and embedding transform so
    # COMPOSED builds (sf1 → sf10 → sf100) stay injective across levels.
    # Round-10 finding: without it, copy paths with the same non-zero
    # index subsequence collide — at ×1000 composed in three ×10 levels,
    # paths (1,0,0)/(0,1,0)/(0,0,1) all rename tokens `w → w_c1`, so 270
    # of the C(1000,2) copy pairs were token-IDENTICAL corpora and the
    # documents table carried 1,488,240 cross-copy true near-dup pairs
    # (the q120 recall certification derived and matched that number
    # exactly — see SCALE.md). Harder-than-declared dup-rate is
    # conservative for timing probes but wrong for the "dup-rate stays
    # constant" model; distinct salts per level (the output dir's
    # basename) restore it.
    salt = os.path.basename(out.rstrip("/"))
    read = lambda t: spark.read.parquet(os.path.join(src, f"{t}.parquet"))
    write = lambda df, t: df.write.mode("overwrite").parquet(
        os.path.join(out, f"{t}.parquet")
    )

    @functools.cache
    def domain_max(t: str, c: str) -> int:
        return read(t).agg(F.max(c)).first()[0]

    for t in tables:
        if t in PLAIN:
            write(read(t), t)
            continue
        df = read(t)
        dim = len(df.select("embedding").first()[0]) if t == "embeddings" else 0

        def copy(part: DataFrame, i: int) -> DataFrame:
            for c, domain in KEYS[t].items():
                part = part.withColumn(
                    c, F.col(c) + F.lit(i * (domain_max(*domain) + 1))
                )
            if i and t == "documents":
                return _rename_tokens(part, i, salt)
            if i and t == "embeddings":
                return _transform_vectors(part, i, salt, dim)
            return part

        write(_copies(df, k, copy), t)


def main() -> None:
    src, out, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    tables = tuple(sys.argv[4:]) or TABLES
    unknown = sorted(set(tables) - set(TABLES))
    if unknown:
        sys.exit(f"unknown tables {unknown}; choose from {list(TABLES)}")
    from s4_spark.session import get_spark

    spark = get_spark(app_name="make_scaled_sf")
    build(spark, src, out, k, tables)
    for t in tables:
        n = spark.read.parquet(os.path.join(out, f"{t}.parquet")).count()
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
