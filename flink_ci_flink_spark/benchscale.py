"""Bench-time scale and skew fixtures.

Two fixture families, both cached on disk under ``.benchdata/`` (gitignored)
and rebuilt only when absent:

- **sf1 rung** (`ensure_scaled_dir`): a 10x replica of an sf0.1 directory,
  synthesized by unioning `factor` FK-consistent id-shifted copies of each
  table (strides = max key + 1, so every copy's customer/order/supplier/
  part/user/doc id space is disjoint while nation/region dims stay shared).
  Document text is salted per copy (digit substitution changes every
  shingle) so the near-dup corpus grows linearly — 10 structurally similar
  sub-corpora — instead of every doc gaining 9 exact clones, which would
  make pair outputs quadratic and useless for a linearity check.
- **skew fixtures** (`ensure_skewed_dir`): the sf0.1 tables with (a) a hot
  events key — a configurable fraction of all events reassigned to one
  user_id — and (b) a hot shingle — a fixed phrase injected into a
  fraction of documents, driving one inverted-index postings bucket to
  thousands of entries. These exercise AQE skew handling, the single-key
  window sort path, and the jaccard `max_postings` / LSH `max_bucket`
  guards at size (VERDICT.md round-2 ask #7).

Everything here is DataFrame-only (union of shifted projections, one write
per table); nothing touches the driver beyond key-stride lookups.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: table -> columns shifted by (stride_table, column) per copy
_SHIFTS: dict[str, list[tuple[str, str]]] = {
    "customer": [("customer", "c_custkey")],
    "orders": [("orders", "o_orderkey"), ("customer", "o_custkey")],
    "lineitem": [
        ("orders", "l_orderkey"),
        ("part", "l_partkey"),
        ("supplier", "l_suppkey"),
    ],
    "supplier": [("supplier", "s_suppkey")],
    "part": [("part", "p_partkey")],
    "events": [("events_id", "event_id"), ("events_user", "user_id")],
    "documents": [("documents", "doc_id")],
    "embeddings": [("embeddings", "vec_id")],
}

#: stride source: table + key column whose max defines the id-space size
_STRIDE_KEYS = {
    "customer": ("customer", "c_custkey"),
    "orders": ("orders", "o_orderkey"),
    "part": ("part", "p_partkey"),
    "supplier": ("supplier", "s_suppkey"),
    "events_id": ("events", "event_id"),
    "events_user": ("events", "user_id"),
    "documents": ("documents", "doc_id"),
    "embeddings": ("embeddings", "vec_id"),
}

_DIMS = ("region", "nation")


def _marker(path: str) -> str:
    return os.path.join(path, "_FIXTURE_READY")


def ensure_scaled_dir(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    factor: int = 10,
) -> str:
    """Build (once) a `factor`x id-shifted replica of `src_dir`."""
    if os.path.exists(_marker(dst_dir)):
        return dst_dir
    os.makedirs(dst_dir, exist_ok=True)
    read = {
        t: spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        for t in list(_SHIFTS) + list(_DIMS)
    }
    strides = {
        name: int(read[t].agg(F.max(col)).first()[0]) + 1
        for name, (t, col) in _STRIDE_KEYS.items()
    }
    for t in _DIMS:  # shared dims: single copy
        read[t].write.mode("overwrite").parquet(os.path.join(dst_dir, f"{t}.parquet"))
    for t, shifts in _SHIFTS.items():
        df = read[t]
        copies = []
        for k in range(factor):
            c = df
            for stride_name, col in shifts:
                c = c.withColumn(col, F.col(col) + F.lit(k * strides[stride_name]))
            if t == "documents" and k > 0:
                # salt every shingle: replace letters with per-copy digits
                # -> within-copy near-dup structure preserved, cross-copy
                # similarity destroyed (linear growth). k < 10 keeps the
                # historical single-char salt (sf1-rung fixture unchanged);
                # k >= 10 needs a second mapped char for uniqueness
                # (translate uses only the first replacement char per
                # matched char, so str(k) alone collides for k >= 10).
                if k < 10:
                    c = c.withColumn("text", F.translate("text", "e", str(k)))
                else:
                    c = c.withColumn(
                        "text",
                        F.translate("text", "ea", f"{k % 10}{k // 10}"),
                    )
            copies.append(c)
        out: DataFrame = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        n_files = max(1, factor // 2)
        out.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{t}.parquet")
        )
    open(_marker(dst_dir), "w").close()
    return dst_dir


def ensure_skewed_dir(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    hot_user_frac: float = 0.3,
    hot_shingle_frac: float = 0.2,
) -> str:
    """Build (once) an sf0.1-sized directory with a hot events user and a
    hot document shingle; all other tables are plain copies."""
    if os.path.exists(_marker(dst_dir)):
        return dst_dir
    os.makedirs(dst_dir, exist_ok=True)
    for t in _DIMS + ("customer", "orders", "lineitem", "supplier", "part", "embeddings"):
        spark.read.parquet(os.path.join(src_dir, f"{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(dst_dir, f"{t}.parquet"))
    ev = spark.read.parquet(os.path.join(src_dir, "events.parquet"))
    # deterministic hot key: hash-bucket a fraction of rows onto user_id 1
    ev_hot = ev.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), 1000) < int(hot_user_frac * 1000),
            F.lit(1).cast("long"),
        ).otherwise(F.col("user_id")),
    )
    ev_hot.write.mode("overwrite").parquet(os.path.join(dst_dir, "events.parquet"))
    doc = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    doc_hot = doc.withColumn(
        "text",
        F.when(
            F.pmod(F.xxhash64("doc_id"), 1000) < int(hot_shingle_frac * 1000),
            F.concat(F.col("text"), F.lit(" zz common hot shingle zz")),
        ).otherwise(F.col("text")),
    )
    doc_hot.write.mode("overwrite").parquet(os.path.join(dst_dir, "documents.parquet"))
    open(_marker(dst_dir), "w").close()
    return dst_dir


def ensure_dense_dir(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    boiler_frac: float = 0.4,
    n_boiler_tokens: int = 25,
) -> str:
    """Build (once) a DENSE near-dup corpus: the sf documents with a
    shared boilerplate sentence appended to `boiler_frac` of them.

    This is the regime prefix-filtered AllPairs exists for (VERDICT r4
    'prove the crossover'): every boilerplate 3-gram's postings list has
    ~boiler_frac x n_docs entries, so the plain inverted-index self-join
    pays (frac x n_docs)^2 rows PER hot shingle, while rare-first
    canonical prefixes never index them (document frequency ranks them
    into the suffix). Boilerplate alone cannot push an unrelated pair
    over threshold 0.5 (23 shared shingles / ~123 union = 0.19), so the
    exact result set stays the corpus's true near-dup pairs — both
    operators must return identical pairs, one of them much faster."""
    if os.path.exists(_marker(dst_dir)):
        return dst_dir
    os.makedirs(dst_dir, exist_ok=True)
    doc = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    boiler = " ".join(f"boiler{i:02d}" for i in range(n_boiler_tokens))
    dense = doc.withColumn(
        "text",
        F.when(
            F.pmod(F.xxhash64("doc_id"), 1000) < int(boiler_frac * 1000),
            F.concat(F.col("text"), F.lit(" " + boiler)),
        ).otherwise(F.col("text")),
    )
    dense.write.mode("overwrite").parquet(os.path.join(dst_dir, "documents.parquet"))
    open(_marker(dst_dir), "w").close()
    return dst_dir
