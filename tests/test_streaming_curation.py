"""Streaming end-to-end curation: the batch curation pass (quality gate ->
exact dedup keep-first) composed on a document STREAM — replayed in chunks,
deduplicating across micro-batches with keyed state, final corpus summary
equal to the batch computation. This is the pipeline a training-data
ingestion service runs continuously (reference analog: a DataStream job
chaining filter -> keyed deduplicate -> windowless aggregate)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from tests.replay import stage_chunks


@pytest.fixture(scope="module")
def docs_stream_dir(spark, sf_dir):
    """documents table split into 3 parquet files (3 micro-batches)."""
    from flink_ci_flink_spark.catalog import load_tables

    d = load_tables(spark, sf_dir).documents.orderBy("doc_id")
    rows = d.collect()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    return stage_chunks(spark, chunks, d.schema), d.schema


def test_streaming_curation_matches_batch(spark, docs_stream_dir):
    """Quality gate -> cross-batch exact dedup (keep FIRST arrival per
    content digest, keyed state) -> per-(source, lang) corpus counts ==
    the batch quality gate + exact dedup on the same corpus."""
    import pandas as pd

    from flink_ci_flink_spark.pipeline.dedup import normalize_text
    from flink_ci_flink_spark.pipeline.text import token_count
    from flink_ci_flink_spark.streaming import file_stream, run_to_completion
    from flink_ci_flink_spark.streaming.process import keyed_process

    path, schema = docs_stream_dir
    stream = file_stream(spark, path, schema, max_files_per_trigger=1)
    gated = (
        stream.withColumn("n_tokens", token_count(F.col("text")))
        .filter(F.col("n_tokens").between(5, 1000))
        .withColumn("content_hash", F.md5(normalize_text("text")))
    )

    # keyed-state dedup: first arrival per digest wins, later ones drop —
    # processing-order keep-first (doc_ids arrive ordered per the replay)
    def keep_first(key_tuple, pdf_iter, state):
        emitted = state.get[0] if state.exists else False
        for pdf in pdf_iter:
            if len(pdf) == 0 or emitted:
                continue
            first = pdf.sort_values("doc_id").iloc[0]
            emitted = True
            state.update((True,))
            yield pd.DataFrame(
                {
                    "content_hash": [key_tuple[0]],
                    "doc_id": [int(first["doc_id"])],
                    "source": [str(first["source"])],
                    "lang": [str(first["lang"])],
                    "n_tokens": [int(first["n_tokens"])],
                }
            )

    deduped = keyed_process(
        gated.select("content_hash", "doc_id", "source", "lang", "n_tokens"),
        ["content_hash"],
        keep_first,
        "content_hash string, doc_id long, source string, lang string, n_tokens long",
        "emitted boolean",
        output_mode="append",
    )
    result = run_to_completion(deduped)
    got = {
        (r.source, r.lang): (r.n_docs, r.total_tokens)
        for r in result.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .collect()
    }

    batch = (
        spark.read.schema(schema).parquet(path)
        .withColumn("n_tokens", token_count(F.col("text")))
        .filter(F.col("n_tokens").between(5, 1000))
        .withColumn("content_hash", F.md5(normalize_text("text")))
    )
    w_first = (
        batch.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    )
    kept = batch.join(w_first, ["content_hash", "doc_id"], "inner")
    want = {
        (r.source, r.lang): (r.n_docs, r.total_tokens)
        for r in kept.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .collect()
    }
    assert got == want


def test_streaming_span_dedup_matches_batch(spark, docs_stream_dir, tmp_path):
    """Streaming span-dedup ingest (per-batch window append + incremental
    min/max registry merge) finalizes to EXACTLY the batch
    span_dedup_stats over the full corpus — cross-batch duplicate windows
    included (the chunks split the corpus, so most duplicate pairs span
    micro-batches)."""
    from flink_ci_flink_spark.pipeline.spans import (
        finalize_span_stats,
        span_dedup_stats,
        streaming_span_dedup,
    )
    from flink_ci_flink_spark.streaming import file_stream

    path, schema = docs_stream_dir
    base = str(tmp_path)
    windows_dir = f"{base}/windows"
    registry_dir = f"{base}/registry"
    stream = file_stream(spark, path, schema, max_files_per_trigger=1)
    streaming_span_dedup(
        stream, windows_dir, registry_dir, checkpoint=f"{base}/ckpt"
    )

    got = {
        tuple(r)
        for r in finalize_span_stats(spark, windows_dir, registry_dir).collect()
    }
    batch_docs = spark.read.parquet(
        *glob.glob(f"{path}/*.parquet")
    )
    want = {tuple(r) for r in span_dedup_stats(batch_docs).collect()}
    assert got == want and len(want) > 0


def test_streaming_minhash_dedup_matches_batch(spark, docs_stream_dir, tmp_path):
    """Streaming MinHash-LSH ingest (per-batch band-row append) finalizes
    to EXACTLY the batch minhash_lsh_pairs over the full corpus — the
    signature work happens once at ingest, pair generation once at
    finalize."""
    from flink_ci_flink_spark.pipeline.dedup import (
        finalize_minhash_pairs,
        minhash_lsh_pairs,
        streaming_minhash_dedup,
    )
    from flink_ci_flink_spark.streaming import file_stream

    path, schema = docs_stream_dir
    base = str(tmp_path)
    stream = file_stream(spark, path, schema, max_files_per_trigger=1)
    streaming_minhash_dedup(
        stream, f"{base}/bands", checkpoint=f"{base}/ckpt"
    )
    got = {
        (r.id_a, r.id_b, r.n_bands_shared)
        for r in finalize_minhash_pairs(spark, f"{base}/bands").collect()
    }
    batch_docs = spark.read.parquet(*glob.glob(f"{path}/*.parquet"))
    want = {
        (r.id_a, r.id_b, r.n_bands_shared)
        for r in minhash_lsh_pairs(batch_docs).collect()
    }
    assert got == want and len(want) > 0


def test_span_finalize_is_replay_idempotent(spark, docs_stream_dir, tmp_path):
    """foreachBatch is at-least-once: a replayed epoch re-appends its
    window rows. Finalize must collapse the duplicates — stats equal the
    batch result even when a whole chunk's windows land twice."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.pipeline.spans import (
        finalize_span_stats,
        span_dedup_stats,
        window_table,
    )

    path, schema = docs_stream_dir
    base = str(tmp_path)
    windows_dir = f"{base}/windows"
    files = sorted(glob.glob(f"{path}/*.parquet"))
    for i, f in enumerate(files):
        chunk = spark.read.schema(schema).parquet(f)
        wt = window_table(chunk).withColumn("__epoch", F.lit(i))
        wt.write.mode("append").parquet(windows_dir)
        if i == 0:  # replay: epoch 0 is delivered twice
            wt.write.mode("append").parquet(windows_dir)
    # registry derivation is min/max-idempotent; rebuild it directly
    all_w = spark.read.parquet(windows_dir)
    all_w.groupBy("whash").agg(
        F.min("doc_id").alias("__min_id"), F.max("doc_id").alias("__max_id")
    ).write.mode("overwrite").parquet(f"{base}/registry")

    got = {
        tuple(r)
        for r in finalize_span_stats(spark, windows_dir, f"{base}/registry").collect()
    }
    batch_docs = spark.read.parquet(*files)
    want = {tuple(r) for r in span_dedup_stats(batch_docs).collect()}
    assert got == want and len(want) > 0


def test_minhash_finalize_is_replay_idempotent(spark, docs_stream_dir, tmp_path):
    """A replayed epoch's re-appended band rows must not produce
    id_a==id_b self-pairs or inflate n_bands_shared."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.pipeline.dedup import (
        finalize_minhash_pairs,
        minhash_band_table,
        minhash_lsh_pairs,
    )

    path, schema = docs_stream_dir
    base = str(tmp_path)
    files = sorted(glob.glob(f"{path}/*.parquet"))
    for i, f in enumerate(files):
        chunk = spark.read.schema(schema).parquet(f)
        bt = minhash_band_table(chunk, "text", "doc_id", 32, 8, 3).withColumn(
            "__epoch", F.lit(i)
        )
        bt.write.mode("append").parquet(f"{base}/bands")
        if i == len(files) - 1:  # replay the last epoch
            bt.write.mode("append").parquet(f"{base}/bands")
    pairs = finalize_minhash_pairs(spark, f"{base}/bands")
    got = {(r.id_a, r.id_b, r.n_bands_shared) for r in pairs.collect()}
    assert all(a != b for a, b, _ in got)
    batch_docs = spark.read.parquet(*files)
    want = {
        (r.id_a, r.id_b, r.n_bands_shared)
        for r in minhash_lsh_pairs(batch_docs).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_lm_screen_matches_batch(spark, docs_stream_dir, tmp_path):
    """Streaming LM-screen ingest (per-batch positional bigram append)
    finalizes to EXACTLY the batch rare_bigram_stats over the full
    corpus — model training and scoring both derive from the store."""
    from flink_ci_flink_spark.pipeline.text import (
        finalize_lm_screen,
        rare_bigram_stats,
        streaming_lm_screen_ingest,
    )
    from flink_ci_flink_spark.streaming import file_stream

    path, schema = docs_stream_dir
    base = str(tmp_path)
    stream = file_stream(spark, path, schema, max_files_per_trigger=1)
    streaming_lm_screen_ingest(
        stream, f"{base}/store", checkpoint=f"{base}/ckpt"
    )
    got = {
        (r.doc_id, r.n_bigrams, r.n_rare, r.keep)
        for r in finalize_lm_screen(
            spark, f"{base}/store", rare_below=15, train_mod=2
        ).collect()
    }
    batch_docs = spark.read.parquet(*glob.glob(f"{path}/*.parquet"))
    want = {
        (r.doc_id, r.n_bigrams, r.n_rare, r.keep)
        for r in rare_bigram_stats(
            batch_docs, rare_below=15, train_mod=2
        ).collect()
    }
    assert got == want and len(want) > 0


def test_lm_screen_finalize_is_replay_idempotent(spark, docs_stream_dir, tmp_path):
    """A replayed epoch re-appends its bigram rows; the (id, pos) natural
    key collapses them at finalize — scores equal the batch screen even
    when a whole chunk lands twice. (Repeated bigrams WITHIN a doc are
    legitimate and must survive the dedup — only replays collapse.)"""
    from flink_ci_flink_spark.pipeline.text import (
        bigrams,
        finalize_lm_screen,
        rare_bigram_stats,
    )

    path, schema = docs_stream_dir
    base = str(tmp_path)
    store = f"{base}/store"
    files = sorted(glob.glob(f"{path}/*.parquet"))
    for i, f in enumerate(files):
        chunk = spark.read.schema(schema).parquet(f)
        rows = (
            chunk.select(F.col("doc_id"), bigrams("text").alias("__bg"))
            .select(F.col("doc_id"), F.posexplode_outer("__bg").alias("pos", "bigram"))
            .withColumn("pos", F.coalesce(F.col("pos"), F.lit(-1)))
            .withColumn("__epoch", F.lit(i))
        )
        rows.write.mode("append").parquet(store)
        if i == 1:  # replay: epoch 1 delivered twice
            rows.write.mode("append").parquet(store)

    got = {
        tuple(r)
        for r in finalize_lm_screen(spark, store, rare_below=15, train_mod=2).collect()
    }
    batch_docs = spark.read.parquet(*files)
    want = {
        tuple(r)
        for r in rare_bigram_stats(batch_docs, rare_below=15, train_mod=2).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_ivf_ingest_matches_batch_knn(spark, sf_dir, tmp_path):
    """Streaming ingest into a pretrained IVF index (map-only cell
    assignment, cell-partitioned store) finalizes to EXACTLY the batch
    kNN self-join with the same coarse quantizer — including after a
    replayed micro-batch (id-dedup at finalize)."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.pipeline.similarity import (
        finalize_knn_join,
        ivf_centroids,
        knn_join,
        streaming_ivf_ingest,
    )
    from flink_ci_flink_spark.streaming import file_stream
    from flink_ci_flink_spark.streaming.core import redeliver_first_batch

    emb = load_tables(spark, sf_dir).embeddings
    centroids = ivf_centroids(emb, n_cells=8, iterations=2)

    base = str(tmp_path)
    rows = emb.orderBy("vec_id").collect()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    src = stage_chunks(spark, chunks, emb.schema)

    redeliver_first_batch(src)  # at-least-once: chunk 0 again
    stream = file_stream(spark, src, emb.schema, max_files_per_trigger=1)
    streaming_ivf_ingest(
        stream, centroids, f"{base}/store", checkpoint=f"{base}/ckpt"
    )

    got = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in finalize_knn_join(spark, f"{base}/store", centroids).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in knn_join(emb, centroids=centroids).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_line_dedup_matches_batch(spark, docs_stream_dir, tmp_path):
    """Streaming line-dedup ingest (per-batch segment append) finalizes to
    EXACTLY the batch line_dedup over the full corpus — segmentation runs
    once at ingest, first-occurrence resolution once at finalize; a
    replayed epoch's duplicate appends collapse in finalize."""
    from pyspark.sql import functions as F

    from flink_ci_flink_spark.pipeline.dedup import (
        finalize_line_dedup,
        line_dedup,
        segment_table,
        streaming_line_dedup_ingest,
    )
    from flink_ci_flink_spark.streaming import file_stream

    path, schema = docs_stream_dir
    base = str(tmp_path)
    stream = file_stream(spark, path, schema, max_files_per_trigger=1)
    streaming_line_dedup_ingest(
        stream, f"{base}/segs", checkpoint=f"{base}/ckpt"
    )
    batch_docs = spark.read.parquet(*glob.glob(f"{path}/*.parquet"))

    # simulate an at-least-once replay: re-append one chunk's segments
    # with a stale epoch stamp — finalize must collapse it
    replay = segment_table(
        spark.read.parquet(glob.glob(f"{path}/*.parquet")[0])
    ).withColumn("__epoch", F.lit(999))
    replay.write.mode("append").parquet(f"{base}/segs")

    got = {
        (r.doc_id, r.n_segments, r.n_kept, r.text)
        for r in finalize_line_dedup(spark, f"{base}/segs").collect()
    }
    want = {
        (r.doc_id, r.n_segments, r.n_kept, r.text)
        for r in line_dedup(batch_docs).collect()
    }
    assert got == want and len(want) > 0


def test_mg_merge_guarantees_under_random_chunking():
    """The split-invariant Misra-Gries guarantees: whatever the chunking,
    the merged summary has ≤ k rows, one-sided undercount ≤ n/(k+1), and
    contains every item with true frequency ≥ n/k."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from flink_ci_flink_spark.pipeline.sketches import _mg_merge

    @settings(max_examples=60, deadline=None)
    @given(
        items=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=300),
        cuts=st.lists(st.integers(min_value=0, max_value=300), max_size=5),
        k=st.integers(min_value=2, max_value=12),
    )
    def check(items, cuts, k):
        n = len(items)
        bounds = sorted({min(c, n) for c in cuts})
        chunks, prev = [], 0
        for c in bounds + [n]:
            if c > prev:
                chunks.append(items[prev:c])
                prev = c
        state: dict = {}
        for ch in chunks:
            state = _mg_merge(state, Counter(ch).items(), k)
        true = Counter(items)
        assert len(state) <= k
        for item, c in state.items():
            assert c <= true[item]
            assert true[item] - c <= n // (k + 1)
        for item, c in true.items():
            if c * k >= n and item not in state:
                raise AssertionError(f"heavy item {item} lost")

    check()


def test_streaming_mg_fold_matches_python_chain(spark):
    """The per-batch Catalyst MG fold (jvm_keyed_fold) equals the Python
    mergeable-summaries chain over the identical ntile chunking."""
    from collections import Counter

    from flink_ci_flink_spark.pipeline.sketches import _mg_merge
    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.process import streaming_misra_gries_jvm

    rows = [(i, (i * i * 7 + i) % 40) for i in range(500)]  # skewed-ish
    df = spark.createDataFrame(rows, "seq long, item long")
    out = streaming_misra_gries_jvm(
        replay_stream(df, ["seq"]),
        item_col="item",
        k=16,
    )
    got = {(r.item, r.cnt) for r in out.collect()}

    # ntile(3): first (n % 3) chunks get one extra row
    ordered = [item for _, item in sorted(rows)]
    n, base = len(ordered), len(ordered) // 3
    sizes = [base + (1 if i < n % 3 else 0) for i in range(3)]
    state: dict = {}
    pos = 0
    for s in sizes:
        state = _mg_merge(state, Counter(ordered[pos : pos + s]).items(), 16)
        pos += s
    assert got == set(state.items()) and len(got) <= 16


def test_centroid_refresh_batching_insensitive(spark, sf_dir):
    """The fold contract, concretely: integer (SUM, COUNT) state makes the
    streamed centroid refresh independent of how the stream is chunked —
    2-batch and 5-batch replays of the same vectors produce identical
    refreshed centroids, equal to the one-shot batch means."""
    from flink_ci_flink_spark.catalog import load_tables
    from flink_ci_flink_spark.pipeline.similarity import (
        assign_cells_int_expr,
        ivf_centroids_fp,
        quantize_fp,
    )
    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.process import (
        streaming_centroid_refresh_jvm,
    )
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding").limit(150)
    centroids, _ = ivf_centroids_fp(emb, iterations=2)

    def run(n_batches):
        out = streaming_centroid_refresh_jvm(
            replay_stream(emb, ["vec_id"], n_batches=n_batches), centroids
        )
        return {tuple(r) for r in out.collect()}

    a, b = run(2), run(5)
    assert a == b and len(a) > 0

    # equals the one-shot batch means over the same assignment
    q = emb.select(quantize_fp("embedding").alias("__q"))
    cell = assign_cells_int_expr(F.col("__q"), centroids)
    batch = (
        q.select(cell.alias("cell"), F.posexplode("__q").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "cell",
            "pos",
            F.floor(
                (F.lit(2.0) * F.col("sx").cast("double") + F.col("cnt"))
                / (F.lit(2.0) * F.col("cnt"))
            ).cast("long").alias("mx"),
            "cnt",
        )
    )
    assert a == {tuple(r) for r in batch.collect()}
