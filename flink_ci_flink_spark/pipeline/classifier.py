"""In-engine trained quality classifier — the FineWeb-Edu-style model-based
quality filter, expressed Spark-first and HASH-PROVABLE.

A real 100 TB curation pipeline filters documents with a trained quality
model (classifier-based screens are the successor to hand-tuned heuristic
gates). The training loop here is a BATCH PERCEPTRON over integer
features: per iteration, misclassified documents contribute ``y * x`` to
one global gradient aggregate, and ``w += Σ`` — i.e. ONE map-side
combinable integer aggregation per iteration over the full corpus (the
same production partial-agg shape as the fixed-point k-means in
`similarity.py`). Integer sums are exact in any aggregation order, so the
entire training trajectory — and therefore every score — is a pure
function of the data that a SQL oracle replays bit-for-bit with unrolled
per-iteration CTEs.

Features are integer text statistics (counts, capped to bound magnitudes).
Precise overflow bound: |w_j| <= iterations * n_docs * cap_j, so
|score| <= iterations * n_docs * sum_j(cap_j^2) ~= 8.7e7 * n_docs with the
default caps (5000 + 5x1000) and 3 iterations. A 100 TB corpus at ~5 KB
per document is ~2e10 docs -> |score| <= ~1.7e18, inside int64 (9.2e18)
with ~5x headroom; past ~1e11 docs, train on a hash-sample or normalize
the gradient (floor(sum/n) — still exact integer) before scaling further.
Labels are weak supervision (a source-derived proxy here; at 100 TB you
broadcast-join a human-rated seed set the same way).

What this deliberately is NOT: SGD (per-row sequential updates are
order-dependent — not replayable, not partial-aggregable) or logistic
regression (exp/sigmoid are not bit-portable across engines). Batch
perceptron updates are the maximal training loop that stays exact integer
algebra end-to-end. Reference analogue: none — the reference has no
in-engine model training; this extends the LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_ci_flink_spark.streaming.core import (
    append_epoch,
    drain_foreach_batch,
    read_epochs,
)


def text_feature_exprs(
    text_col: str = "text", chars_col: str = "n_chars"
) -> list[Column]:
    """The default integer feature vector (bias first). Caps bound each
    feature's magnitude so weights and scores stay far below 2^63."""
    t = F.col(text_col)
    return [
        F.lit(1).cast("long").alias("x0"),  # bias
        F.least(F.col(chars_col).cast("long"), F.lit(5000)).alias("x1"),
        F.least(
            (F.length(t) - F.length(F.regexp_replace(t, " ", ""))).cast("long"),
            F.lit(1000),
        ).alias("x2"),  # whitespace count ~ token count
        F.least(
            F.length(F.regexp_replace(t, "[^0-9]", "")).cast("long"), F.lit(1000)
        ).alias("x3"),  # digit count
        F.least(
            F.length(F.regexp_replace(t, "[^A-Z]", "")).cast("long"), F.lit(1000)
        ).alias("x4"),  # uppercase count
        F.least(
            F.length(F.regexp_replace(t, "[^.!?,;:]", "")).cast("long"),
            F.lit(1000),
        ).alias("x5"),  # sentence punctuation count
    ]


#: DuckDB twins of `text_feature_exprs` (same caps, same order).
TEXT_FEATURES_SQL = [
    "CAST(1 AS BIGINT)",
    "LEAST(CAST(n_chars AS BIGINT), 5000)",
    "LEAST(CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT), 1000)",
    "LEAST(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT), 1000)",
    "LEAST(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT), 1000)",
    "LEAST(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT), 1000)",
]


def perceptron_train(
    docs: DataFrame,
    features: list[Column],
    label: Column,
    iterations: int = 3,
) -> list[int]:
    """Train integer perceptron weights: per iteration ONE aggregate over
    the corpus (misclassified rows contribute ``y * x``, CASE-folded into
    the sum so the pass is a plain partial aggregation — no second filter
    job), weights updated on the driver (a k-integer model, the legitimate
    broadcast-sized collect). Returns ``w`` with ``len(w) == len(features)``.
    """
    w, _feat = perceptron_train_feat(docs, features, label, iterations)
    return w


def perceptron_train_feat(
    docs: DataFrame,
    features: list[Column],
    label: Column,
    iterations: int = 3,
) -> tuple[list[int], DataFrame]:
    """`perceptron_train`, also returning the CHECKPOINTED integer feature
    table (columns x0..x{k-1}, y) the training loop aggregates over.

    The checkpoint is paid for training either way; a composite query that
    additionally needs a corpus-global SCORE statistic (e.g. the v3/v4
    corpus-average gate) can aggregate ``dot(w, x)`` over this frame for
    the exact same integers as scoring the documents again — zero extra
    corpus scans, no re-run of the regex feature projection (guide §2.4).
    """
    from flink_ci_flink_spark.pipeline.dedup import spread_small_scan

    k = len(features)
    # spread before the regex feature extraction (the CPU-hot map work;
    # a small parquet scans as one partition — measured ~25% on the
    # 3-iteration train at sf0.1, weights identical)
    feat = spread_small_scan(docs).select(
        *[f.alias(f"x{i}") for i, f in enumerate(features)],
        label.cast("long").alias("y"),
    )
    # the regex feature extraction is the expensive part; cut lineage so
    # each of the `iterations` aggregates rescans columnar features, not
    # the raw-text regexes (same localCheckpoint pattern as the k-means
    # training loops)
    feat = feat.localCheckpoint(eager=True)
    w = [0] * k
    for _ in range(iterations):
        dot = sum(
            (F.lit(int(w[j])) * F.col(f"x{j}") for j in range(k)),
            F.lit(0).cast("long"),
        )
        mis = F.col("y") * dot <= 0
        sums = feat.agg(
            *[
                F.sum(
                    F.when(mis, F.col("y") * F.col(f"x{i}")).otherwise(F.lit(0))
                ).alias(f"s{i}")
                for i in range(k)
            ]
        ).collect()[0]
        w = [w[i] + int(sums[i] or 0) for i in range(k)]
    return w, feat


def perceptron_score_stats(feat: DataFrame, weights: list[int]) -> DataFrame:
    """Corpus score statistics (1 row: msum, mcnt) from the checkpointed
    training feature table — integer-identical to aggregating
    `perceptron_score(docs, ...)` (same dot, same rows), without another
    documents scan."""
    k = len(weights)
    dot = sum(
        (F.lit(int(weights[j])) * F.col(f"x{j}") for j in range(k)),
        F.lit(0).cast("long"),
    )
    return feat.agg(
        F.sum(dot).alias("msum"), F.count(F.lit(1)).alias("mcnt")
    )


def perceptron_score(
    docs: DataFrame,
    features: list[Column],
    weights: list[int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Map-only scoring against broadcast literal weights: (id, score,
    pred) with pred = +1 iff score > 0 (ties negative, matching the
    margin <= 0 misclassification rule used in training)."""
    k = len(features)
    # NOT spread: the score projection's output typically feeds several
    # branches of a composite (gate + aggregate) — measured at sf0.1,
    # spreading this scan doubled pipe_e2e_curation_v3's wall time
    # (5.3s -> 11.0s), while spreading the train side alone is a win.
    feat = docs.select(
        F.col(id_col), *[f.alias(f"x{i}") for i, f in enumerate(features)]
    )
    dot = sum(
        (F.lit(int(weights[j])) * F.col(f"x{j}") for j in range(k)),
        F.lit(0).cast("long"),
    )
    return feat.select(
        id_col,
        dot.alias("score"),
        F.when(dot > 0, F.lit(1)).otherwise(F.lit(-1)).alias("pred"),
    )


def perceptron_cte_parts(
    feats_sql: list[str],
    label_sql: str,
    iterations: int = 3,
    table: str = "documents",
    id_col: str = "doc_id",
) -> tuple[list[str], str, str]:
    """The unrolled-training CTE chain for oracle composition. Returns
    (cte_parts, final_weights_cte_name, score_expr) where `score_expr`
    computes the integer score given `feat` rows cross-joined with the
    final weights CTE aliased as `w`."""
    k = len(feats_sql)
    feat_cols = ", ".join(f"{e} AS x{i}" for i, e in enumerate(feats_sql))
    parts = [
        f"feat AS (SELECT {id_col}, {feat_cols}, "
        f"CAST({label_sql} AS BIGINT) AS y FROM {table})",
        "it0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(k))
        + ")",
    ]
    for t in range(1, iterations + 1):
        prev = f"it{t - 1}"
        dot = " + ".join(f"{prev}.w{i} * x{i}" for i in range(k))
        cols = ", ".join(
            f"CAST(MIN({prev}.w{i}) + COALESCE(SUM(CASE WHEN y * ({dot}) <= 0 "
            f"THEN y * x{i} ELSE 0 END), 0) AS BIGINT) AS w{i}"
            for i in range(k)
        )
        parts.append(f"it{t} AS (SELECT {cols} FROM feat CROSS JOIN {prev})")
    dotf = " + ".join(f"w.w{i} * x{i}" for i in range(k))
    return parts, f"it{iterations}", dotf


def perceptron_oracle_sql(
    feats_sql: list[str],
    label_sql: str,
    iterations: int = 3,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """Unroll the full training loop + scoring into one DuckDB statement:
    iteration t's weights are a 1-row CTE derived from iteration t-1's by
    the identical integer gradient aggregate — the oracle re-trains the
    model from scratch and must land on bit-identical scores."""
    parts, final, dotf = perceptron_cte_parts(
        feats_sql, label_sql, iterations, table, id_col
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT {id_col}, CAST({dotf} AS BIGINT) AS score,
           CASE WHEN {dotf} > 0 THEN 1 ELSE -1 END AS pred
    FROM feat CROSS JOIN {final} w
    """
    )


def streaming_model_screen_ingest(
    stream_df,
    features: list[Column],
    weights: list[int],
    store_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
) -> None:
    """Online serving of the offline-trained quality model: each
    micro-batch scores its documents MAP-ONLY against the broadcast
    literal weights (the k-integer model) and appends (id, score, pred)
    to the screen store — the classifier twin of the IVF-PQ
    encode-on-ingest path. Deterministic integer scoring makes
    at-least-once redeliveries byte-identical, so `finalize_model_screen`
    collapses them exactly on the id."""
    def merge(batch_df, epoch_id: int) -> None:
        scored = perceptron_score(batch_df, features, weights, id_col=id_col)
        append_epoch(scored, store_dir, epoch_id)

    drain_foreach_batch(stream_df, merge, checkpoint)


def finalize_model_screen(spark, store_dir: str, id_col: str = "doc_id"):
    """Close the streaming screen: replay-dedup on the id (scores are
    deterministic, so duplicates are byte-identical) — equal to batch
    `perceptron_score` over the whole corpus."""
    return read_epochs(spark, store_dir, [id_col]).select(id_col, "score", "pred")
