"""Exact substring (span) deduplication over token windows.

North-star extension (training-data pipeline), after the exact-substring
method of Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better" (arXiv:2107.06499): find token sequences of length >= w that
occur in more than one document and measure, per document, how much of it
is covered by such duplicated spans. The suffix-array formulation of the
paper is replaced by the shuffle-friendly rolling-window formulation: every
w-token window is hashed, windows are grouped on the hash (ONE shuffle),
and windows seen in >= 2 distinct documents are flagged. Coverage is the
union of flagged windows' token positions — computed relationally via the
analytic interval-union (each window contributes min(w, gap-to-previous)
tokens within its doc's sorted window sequence), never by driver-side
interval merging.

Scale design (100 TB):
- window table is a map-only projection + explode (rows = token count);
- the duplicate screen is one groupBy on the 60-bit window hash with a
  partial count-distinct (min/max doc_id short-circuit: a window is
  cross-doc duplicated iff min(doc_id) != max(doc_id) — cheaper than an
  exact COUNT(DISTINCT) and exact for the >= 2 predicate);
- the join back to positions is hash-hash on the same key, so AQE can
  plan it off the same exchange; skewed boilerplate windows can be capped
  with `max_occurrences` (screen stays exact; coverage becomes a lower
  bound, flagged in the column name).

All hashes are md5-hex-derived (engine-portable) so DuckDB oracles
reproduce results bit-for-bit.

Reference scope note: the reference (Flink 1.11) has no such operator;
this extends the engine for LLM-corpus curation per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ci_flink_spark.pipeline.text import token_hash, tokens


def window_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", w: int = 8
) -> DataFrame:
    """(id, n_tokens, pos, whash) — every positional w-token window.

    Unlike shingle_table this keeps positions and does NOT distinct:
    coverage needs every occurrence. Documents shorter than w tokens have
    no windows and are genuinely absent (guarded sequence, no
    out-of-range element_at)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    starts = toked.select(
        F.col(id_col),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.col("__toks"),
        F.explode(
            F.when(
                F.size("__toks") >= w,
                F.sequence(F.lit(1), F.size("__toks") - (w - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    )
    return starts.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("pos").cast("bigint").alias("pos"),
        token_hash(
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("pos"), w))
        ).alias("whash"),
    )


def span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """Per-document duplicated-span statistics.

    Returns docs having >= 1 cross-document duplicated w-token window:
      (id, n_tokens, n_windows, dup_windows, dup_tokens, dup_frac)
    where dup_tokens is the size of the union of flagged windows' token
    positions and dup_frac = dup_tokens / n_tokens (portable 6-digit
    rounding). A training pipeline filters on dup_frac or cuts the spans.

    Physical shape — ONE corpus scan, two shuffles:
    1. the cross-doc screen is min/max-over-window partitioned by whash
       (no groupBy + join-back, which would re-scan and re-tokenize);
    2. position coverage is the analytic interval-union: windows sorted by
       start within a doc contribute min(w, gap-to-previous) tokens each —
       no w-fold explode, no distinct;
    3. n_windows is arithmetic (n_tokens - w + 1; flagged docs always
       have >= w tokens), not a third aggregation over the corpus.
    The coverage window is partitioned by doc id and the final groupBy
    uses the same key, so stage 2's exchange satisfies the aggregation —
    no extra shuffle.
    """
    from pyspark.sql import Window

    wt = window_table(df, text_col, id_col, w)
    by_hash = Window.partitionBy("whash")
    flagged = (
        wt.withColumn("__min_id", F.min(id_col).over(by_hash))
        .withColumn("__max_id", F.max(id_col).over(by_hash))
        .filter(F.col("__min_id") != F.col("__max_id"))
    )
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    contrib = F.coalesce(
        F.least(F.lit(w).cast("bigint"), F.col("pos") - F.lag("pos").over(by_doc)),
        F.lit(w).cast("bigint"),
    )
    return (
        flagged.withColumn("__contrib", contrib)
        .groupBy(id_col)
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("dup_windows"),
            F.sum("__contrib").alias("dup_tokens"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (F.col("n_tokens") - (w - 1)).alias("n_windows"),
            F.col("dup_windows"),
            F.col("dup_tokens"),
            (
                F.floor(F.col("dup_tokens") / F.col("n_tokens") * 1e6 + 0.5)
                / 1e6
            ).alias("dup_frac"),
        )
    )


def strip_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """Rebuild each document's text with duplicated spans removed — the
    Lee-et-al. cut policy, keep-first: the occurrence in the lowest doc_id
    survives, every other document drops its covered token positions.

    Relational end-to-end, ONE corpus scan (r13 — the old shape scanned
    and re-tokenized documents twice: once for the window table, once for
    the positional token stream, then anti-joined the full stream against
    the covered positions):

    1. posexplode the tokens once, CARRYING the token array through the
       Generate so every window hash is computed map-only from
       ``slice(toks, pos, w)`` in the same projection (no per-doc sort
       just to assemble windows — a lead()-window variant measured +39%
       CPU at sf0.1 from the extra WindowExec sort);
    2. the keep-first screen is min(doc) over the whash partition. Tail
       positions (< w tokens left) have NULL whash; they get per-row
       synthetic NEGATIVE partition keys so the null group never funnels
       into one partition (the flag predicate requires a non-null whash,
       so synthetic-key collisions are harmless);
    3. a token is covered iff any flagged window STARTS within the
       preceding w-1 positions — positions are dense, so the interval
       union is ``max(flag) over rows between w-1 preceding and current``
       on the per-doc order, replacing the w-fold explode + distinct +
       anti-join of the old shape;
    4. re-assemble with array_sort(collect_list) as before. The final
       groupBy keys on the step-3 window's partition, so it adds no
       exchange: 1 scan + 2 full-stream sort-windows (was 2 scans + 3
       shuffles).
    """
    from pyspark.sql import Window

    st = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.posexplode("__toks").alias("__p0", "tok"),
        )
        .select(
            F.col(id_col),
            (F.col("__p0") + 1).cast("bigint").alias("pos"),
            F.col("tok"),
            F.when(
                (F.col("__p0") + 1) <= F.size("__toks") - (w - 1),
                token_hash(
                    F.concat_ws(
                        " ", F.slice(F.col("__toks"), F.col("__p0") + 1, w)
                    )
                ),
            ).alias("whash"),
        )
    )
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    # synthetic negative keys spread the null-whash tail rows; real hashes
    # are 60-bit non-negative, so the key spaces never collide
    pkey = F.coalesce(
        F.col("whash"),
        -(F.pmod(F.xxhash64(F.col(id_col), F.col("pos")), F.lit(2**61)) + 1),
    )
    keep_id = F.min(id_col).over(Window.partitionBy(pkey))
    st = st.withColumn(
        "__flag",
        (F.col("whash").isNotNull() & (F.col(id_col) != keep_id)).cast("int"),
    )
    covered = F.max("__flag").over(by_doc.rowsBetween(-(w - 1), 0))
    kept = st.withColumn("__cov", covered).filter(F.col("__cov") == 0)
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos").alias("tok_pos"), "tok"))
            ).alias("__pairs")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.transform("__pairs", lambda s: s["tok"])
            ).alias("clean_text"),
            F.size("__pairs").cast("bigint").alias("n_kept_tokens"),
        )
    )


def streaming_span_dedup(
    stream_df,
    windows_dir: str,
    registry_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
):
    """Continuous corpus ingest for span dedup: per micro-batch, append the
    batch's positional window table and MERGE the duplicate-window registry
    (per whash: min/max doc id seen so far — the same min!=max screen as
    the batch operator, maintained incrementally). After the stream drains,
    `finalize_span_stats(spark, windows_dir, registry_dir)` equals the
    batch `span_dedup_stats` over the full corpus (asserted in
    tests/test_streaming_curation.py).

    State is bounded by DISTINCT windows (registry: one row per whash),
    not by corpus size; the windows store is the exploded corpus itself —
    the same data a batch pass would scan, laid down once at ingest.
    Returns the started StreamingQuery."""
    from pyspark.sql import functions as F  # noqa: F811

    from flink_ci_flink_spark.streaming.core import foreach_batch_upsert

    def merge(batch_df, epoch_id: int) -> None:
        wt = window_table(batch_df, text_col, id_col, w)
        if not wt.take(1):
            return
        # foreachBatch is at-least-once: stamp the epoch so a replayed
        # batch's re-appended rows are collapsible at finalize ((doc, pos)
        # windows are unique in the corpus — see finalize_span_stats).
        wt.withColumn("__epoch", F.lit(int(epoch_id))).write.mode(
            "append"
        ).parquet(windows_dir)
        spark = batch_df.sparkSession
        delta = wt.groupBy("whash").agg(
            F.min(id_col).alias("__min_id"), F.max(id_col).alias("__max_id")
        )
        # existence probe must work on hdfs:///s3:// too (os.path.exists
        # only sees the local filesystem — it would silently reset the
        # registry every batch on a remote store); min/max re-merge of a
        # replayed delta is idempotent, so at-least-once is safe here.
        try:
            old = spark.read.parquet(registry_dir)
            merged = (
                old.unionByName(delta)
                .groupBy("whash")
                .agg(
                    F.min("__min_id").alias("__min_id"),
                    F.max("__max_id").alias("__max_id"),
                )
            )
        except Exception:  # AnalysisException: path does not exist (first batch)
            merged = delta
        tmp = registry_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(registry_dir)

    return foreach_batch_upsert(stream_df, merge, checkpoint)


def finalize_span_stats(spark, windows_dir: str, registry_dir: str, w: int = 8):
    """Close the streaming ingest: join the accumulated window store
    against the registry's cross-doc duplicate screen and compute the same
    per-doc stats as `span_dedup_stats` — one batch job over
    already-materialized state, no re-tokenization of the corpus."""
    from pyspark.sql import functions as F  # noqa: F811

    # collapse at-least-once replays: each (doc, pos) window is unique in
    # the corpus, so this dropDuplicates is exact idempotence, absorbed
    # map-side by partial aggregation before the per-doc shuffle below
    wt = (
        spark.read.parquet(windows_dir)
        .drop("__epoch")
        .dropDuplicates(["doc_id", "pos"])
    )
    dup = (
        spark.read.parquet(registry_dir)
        .filter(F.col("__min_id") != F.col("__max_id"))
        .select("whash")
    )
    flagged = wt.join(dup, "whash")
    from pyspark.sql import Window

    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.coalesce(
        F.least(F.lit(w).cast("bigint"), F.col("pos") - F.lag("pos").over(by_doc)),
        F.lit(w).cast("bigint"),
    )
    return (
        flagged.withColumn("__contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("dup_windows"),
            F.sum("__contrib").alias("dup_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - (w - 1)).alias("n_windows"),
            "dup_windows",
            "dup_tokens",
            (
                F.floor(F.col("dup_tokens") / F.col("n_tokens") * 1e6 + 0.5)
                / 1e6
            ).alias("dup_frac"),
        )
    )
