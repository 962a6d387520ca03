"""Sketch queries: HLL / KMV cardinality and count-min frequency, each with
an exact DuckDB oracle that replays the full sketch construction in SQL
(md5-portable hashing + exact BIGINT sketch state make this possible —
see pipeline/sketches.py module docstring for the 100 TB rationale).

Reference parity: the reference answers high-cardinality distincts by
splitting the aggregate (`SplitAggregateRule.java` partial/final distinct);
sketches are the bounded-state alternative a corpus-stats pass needs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_ci_flink_spark.catalog import load_tables
from flink_ci_flink_spark.pipeline.sketches import (
    countmin_estimate,
    countmin_sketch,
    kmv_distinct,
)
from flink_ci_flink_spark.pipeline.text import tokens
from flink_ci_flink_spark.queries.registry import query

_TOKS = r"list_filter(str_split_regex(text, '\s+'), x -> x != '')"
_H = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

# HLL constants for b=6: m=64 registers, w=54 remainder bits, q=w+1=55.
_HLL_RAW_NUM = repr(0.709 * 64 * 64 * float(2**55))  # alpha_64 * m^2 * 2^q
_POW2_54 = 2**54
_POW2_60F = repr(float(2**60))


@query(
    "pipe_hll_distinct",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS}) AS tok FROM documents
    ), hashed AS (
      SELECT lang, {_H.format(x='tok')} AS h FROM toks
    ), regs AS (
      SELECT lang, h >> 54 AS reg,
             CASE WHEN h % {_POW2_54} = 0 THEN 55
                  ELSE 55 - length(format('{{:b}}', h % {_POW2_54})) END AS rho
      FROM hashed
    ), maxed AS (
      SELECT lang, reg, MAX(rho) AS max_rho FROM regs GROUP BY 1, 2
    ), grp AS (
      SELECT lang, COUNT(*) AS n_present,
             CAST(SUM(CAST(1 AS BIGINT) << (55 - max_rho)) AS BIGINT) AS s_present
      FROM maxed GROUP BY 1
    ), stats AS (
      SELECT lang, CAST(64 - n_present AS BIGINT) AS v_zero,
             CAST(s_present + (64 - n_present) * (CAST(1 AS BIGINT) << 55)
                  AS BIGINT) AS s_scaled
      FROM grp
    ), est AS (
      SELECT lang, v_zero, s_scaled,
             CASE WHEN ({_HLL_RAW_NUM} / s_scaled) <= 160.0 AND v_zero > 0
                  THEN 64.0 * ln(64.0 / v_zero)
                  ELSE {_HLL_RAW_NUM} / s_scaled END AS e
      FROM stats
    )
    SELECT s.lang, s.v_zero, s.s_scaled,
           CAST(FLOOR(s.e * 100 + 0.5) AS BIGINT) / 100.0 AS est_distinct,
           x.exact_distinct
    FROM est s
    JOIN (SELECT lang, COUNT(DISTINCT tok) AS exact_distinct FROM toks GROUP BY 1) x
      USING (lang)
    """,
    group="pipeline",
)
def pipe_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog vocabulary estimate: distinct tokens per language over
    the document corpus (m=64 registers), alongside the exact distinct for
    error inspection. The register table is map-side combinable — at 100 TB
    the shuffle carries ≤ 64 rows per language, vs every distinct token for
    the exact path. Sketch state is exact BIGINT (v_zero, s_scaled), so the
    oracle replays it bit-for-bit.

    ONE corpus pass (r13): registers and the exact distinct fold into the
    same aggregation chain — dedupe (lang, tok) once, then each distinct
    token lands in exactly one register, so per-register COUNT(*) sums to
    the exact per-language distinct while MAX(rho) builds the sketch
    (max over the distinct set == max over the multiset; rho is a pure
    function of the token). The old sketch-branch + countDistinct-branch
    join re-scanned and re-tokenized documents twice."""
    from flink_ci_flink_spark.pipeline.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    t = load_tables(spark, sf_dir)
    toks = t.documents.select("lang", F.explode(tokens("text")).alias("tok"))
    d = toks.dropDuplicates(["lang", "tok"])
    regs = hll_registers(
        d, "tok", ["lang"], b=6, extra_aggs=[F.count("*").alias("__n_toks")]
    )
    sk = hll_estimate_from_registers(
        regs,
        ["lang"],
        b=6,
        extra_aggs=[F.sum("__n_toks").cast("long").alias("exact_distinct")],
    )
    return sk.select(
        "lang", "v_zero", "s_scaled", "est_distinct", "exact_distinct"
    )


@query(
    "pipe_kmv_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             {_H.format(x='CAST(user_id AS VARCHAR)')} AS h
      FROM events
    ), ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashed
    ), kept AS (
      SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS kth_min
      FROM ranked WHERE rn <= 32 GROUP BY 1
    )
    SELECT event_type, n_kept, kth_min,
           CAST(FLOOR((CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
                            ELSE 31.0 * {_POW2_60F} / kth_min END) * 100 + 0.5)
                AS BIGINT) / 100.0 AS est_distinct
    FROM kept
    """,
    group="pipeline",
)
def pipe_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct estimate: users per event type (k=32).
    Exact below k (the estimator's defined fallback), (k-1)*2^60/kth_min
    above. n_kept/kth_min are exact BIGINT sketch state — the oracle
    replays the identical k-minima."""
    t = load_tables(spark, sf_dir)
    return kmv_distinct(
        t.events, F.col("user_id").cast("string"), ["event_type"], k=32
    ).select("event_type", "n_kept", "kth_min", "est_distinct")


@query(
    "pipe_countmin_freq",
    oracle=f"""
    WITH grid AS (SELECT unnest(generate_series(0, 3)) AS i),
    sketch AS (
      SELECT i,
             {_H.format(x="CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % 512 AS bucket,
             COUNT(*) AS cnt
      FROM events CROSS JOIN grid
      GROUP BY 1, 2
    ), probes AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < 10
    ), pb AS (
      SELECT p.user_id, g.i,
             {_H.format(x="CAST(g.i AS VARCHAR) || ':' || CAST(p.user_id AS VARCHAR)")} % 512 AS bucket
      FROM probes p CROSS JOIN grid g
    ), est AS (
      SELECT pb.user_id, MIN(COALESCE(s.cnt, 0)) AS est_count
      FROM pb LEFT JOIN sketch s ON s.i = pb.i AND s.bucket = pb.bucket
      GROUP BY 1
    )
    SELECT e.user_id, e.est_count, x.exact_count
    FROM est e
    JOIN (SELECT user_id, COUNT(*) AS exact_count FROM events
          WHERE user_id < 10 GROUP BY 1) x
      USING (user_id)
    """,
    group="pipeline",
)
def pipe_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (d=4, w=512) over event user_ids, point-
    queried for ten users against their exact counts. The sketch is a fixed
    2048-row integer grid however large the stream — the heavy-hitter
    screen shape. Estimates are exact-arithmetic min-of-bucket-sums, so the
    oracle reproduces them precisely."""
    t = load_tables(spark, sf_dir)
    ev = t.events.select("user_id")
    sk = countmin_sketch(ev, "user_id", depth=4, width=512)
    exact = (
        ev.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    # probes derive from the exact side (same keys as DISTINCT user_id<10)
    # so the probe set costs no third events pass: the exact groupBy's
    # exchange canonicalizes identically in both branches and AQE reuses
    # it (round-11 scans audit caught events:3 here; now 2 — sketch pass
    # + exact pass, the minimum an estimator-vs-truth eval allows). The
    # value-neutral `> 0` filter (true for every existing group, but not
    # statically provable, so it survives constant folding — isNotNull
    # folds away because count(1) is provably non-null) keeps exact_count
    # REFERENCED so ColumnPruning can't drop partial_count from this
    # branch's aggregate and de-canonicalize the exchange.
    probes = exact.filter(F.col("exact_count") > 0).select("user_id")
    est = countmin_estimate(sk, probes, "user_id", depth=4, width=512)
    return est.join(exact, "user_id").select("user_id", "est_count", "exact_count")


@query(
    "pipe_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST({_TOKS}) AS term FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM toks),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1)
    SELECT term, cnt, (SELECT CAST(n AS BIGINT) FROM tot) AS n
    FROM cnt WHERE cnt * 200 >= (SELECT n FROM tot)
    """,
    group="pipeline",
)
def pipe_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (token frequency ≥ n/200) via the
    Misra-Gries mergeable summary: each partition reduces its token
    stream to ≤ 200 counters in one bounded-memory pass (the union is a
    guaranteed candidate superset — MG's ≤ n/(k+1) one-sided undercount),
    then only the candidates are exactly recounted through a broadcast
    semi-join. The full-vocabulary groupBy shuffle a naive frequency pass
    would pay at 100 TB never happens, and the result is exact, not an
    estimate (`pipeline/sketches.py::heavy_hitters`; reference scope:
    SplitAggregateRule.java's partial/final distinct split is the
    reference's answer to the same hot-aggregation problem)."""
    from flink_ci_flink_spark.pipeline.sketches import heavy_hitters

    t = load_tables(spark, sf_dir)
    toks = t.documents.select(F.explode(tokens("text")).alias("term"))
    return heavy_hitters(toks, "term", k=200)


@query(
    "streaming_hll_distinct_replay",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type, {_H.format(x='CAST(user_id AS VARCHAR)')} AS h
      FROM events
    ), regs AS (
      SELECT event_type, h >> 54 AS reg,
             CASE WHEN h % {_POW2_54} = 0 THEN 55
                  ELSE 55 - length(format('{{:b}}', h % {_POW2_54})) END AS rho
      FROM hashed
    ), maxed AS (
      SELECT event_type, reg, MAX(rho) AS max_rho FROM regs GROUP BY 1, 2
    ), grp AS (
      SELECT event_type, COUNT(*) AS n_present,
             CAST(SUM(CAST(1 AS BIGINT) << (55 - max_rho)) AS BIGINT) AS s_present
      FROM maxed GROUP BY 1
    ), stats AS (
      SELECT event_type, CAST(64 - n_present AS BIGINT) AS v_zero,
             CAST(s_present + (64 - n_present) * (CAST(1 AS BIGINT) << 55)
                  AS BIGINT) AS s_scaled
      FROM grp
    ), est AS (
      SELECT event_type, v_zero, s_scaled,
             CASE WHEN ({_HLL_RAW_NUM} / s_scaled) <= 160.0 AND v_zero > 0
                  THEN 64.0 * ln(64.0 / v_zero)
                  ELSE {_HLL_RAW_NUM} / s_scaled END AS e
      FROM stats
    )
    SELECT s.event_type, s.v_zero, s.s_scaled,
           CAST(FLOOR(s.e * 100 + 0.5) AS BIGINT) / 100.0 AS est_distinct,
           x.exact_distinct
    FROM est s
    JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY 1) x
      USING (event_type)
    """,
    group="streaming",
)
def streaming_hll_distinct_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming COUNT(DISTINCT user_id) per event_type with bounded
    state, over the 3-micro-batch replay: each batch's 64-register HLL
    table merges into the persisted registers by per-register MAX (the
    `jvm_keyed_fold` HLL shape — state ≤ 64 rows per group regardless of
    stream length), and the final estimate is bit-exact against the
    oracle's one-shot sketch because register merge is order- and
    batching-insensitive algebra. The exact distinct rides along for
    error inspection (`streaming/process.py::streaming_hll_jvm`)."""
    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.process import streaming_hll_jvm

    t = load_tables(spark, sf_dir)
    ev = t.events.select(
        "event_type", F.col("user_id").cast("string").alias("uid"),
        "ts", "event_id",
    )
    sk = streaming_hll_jvm(
        replay_stream(ev, ["ts", "event_id"]),
        value_col="uid",
        group_cols=["event_type"],
    )
    exact = t.events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return sk.join(exact, "event_type").select(
        "event_type", "v_zero", "s_scaled", "est_distinct", "exact_distinct"
    )


@query(
    "streaming_quantile_histogram_replay",
    oracle="""
    WITH b AS (
      SELECT event_type,
             LEAST(255, GREATEST(CAST(0 AS BIGINT),
               CAST(FLOOR((value - 0.0) / 2.0) AS BIGINT))) AS bin
      FROM events
    ), hist AS (
      SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY 1, 2
    ), n AS (
      SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1
    ), qs AS (
      SELECT UNNEST([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS q
    ), tgt AS (
      SELECT event_type, n, q, CAST(CEIL(q * n) AS BIGINT) AS t
      FROM n CROSS JOIN qs
    ), cum AS (
      SELECT event_type, bin,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      FROM hist
    ), est AS (
      SELECT t.event_type, t.q, t.n,
             CAST(MIN(c.bin) AS DOUBLE) * 2.0::DOUBLE AS est_value
      FROM tgt t JOIN cum c
        ON c.event_type = t.event_type AND c.cum >= t.t
      GROUP BY 1, 2, 3
    ), rnk AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn
      FROM events
    )
    SELECT e.event_type, e.q, e.n, e.est_value, r.value AS exact_value
    FROM est e
    JOIN tgt t ON t.event_type = e.event_type AND t.q = e.q
    JOIN rnk r ON r.event_type = e.event_type AND r.rn = t.t
    """,
    group="streaming",
)
def streaming_quantile_histogram_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming per-type value QUANTILES with bounded state, over the
    3-micro-batch replay — the sketch quartet's missing quarter (count-min
    = frequency, HLL = distinct, Misra-Gries = top items, THIS =
    distribution): a 256-bin equi-width histogram merged per-bin by SUM
    (exact integer algebra -> batching-insensitive; state ≤ 5 types x 256
    bins forever). p50/p95/p99 read off the cumulative counts (estimate
    error ≤ bin width 2.0); the exact rank-based percentile rides along
    for error inspection, and the whole read-off is hash-checked
    (`streaming/process.py::streaming_value_histogram_jvm`)."""
    from pyspark.sql.window import Window

    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.process import (
        streaming_value_histogram_jvm,
    )

    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_type", "value", "ts", "event_id")
    hist = streaming_value_histogram_jvm(
        replay_stream(ev, ["ts", "event_id"]),
        value_col="value",
        group_cols=["event_type"],
        lo=0.0,
        width=2.0,
        n_bins=256,
    )
    n = hist.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))
    tgt = n.select(
        "event_type",
        "n",
        F.explode(
            F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
        ).alias("q"),
    ).withColumn("t", F.ceil(F.col("q") * F.col("n")).cast("bigint"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("event_type").orderBy("bin")
        ),
    )
    est = (
        tgt.join(cum, "event_type")
        .filter(F.col("cum") >= F.col("t"))
        .groupBy("event_type", "q", "n", "t")
        .agg((F.min("bin") * F.lit(2.0)).alias("est_value"))
    )
    rnk = t.events.select(
        "event_type",
        "value",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy("value", "event_id")
        )
        .alias("rn"),
    )
    return (
        est.join(
            rnk,
            (rnk.event_type == est.event_type) & (rnk.rn == est.t),
        )
        .select(
            est.event_type,
            "q",
            "n",
            "est_value",
            F.col("value").alias("exact_value"),
        )
    )


@query(
    "streaming_countmin_replay",
    oracle=f"""
    WITH grid AS (SELECT unnest(generate_series(0, 3)) AS i),
    sketch AS (
      SELECT i,
             {_H.format(x="CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % 512 AS bucket,
             COUNT(*) AS cnt
      FROM events CROSS JOIN grid
      GROUP BY 1, 2
    ), probes AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < 10
    ), pb AS (
      SELECT p.user_id, g.i,
             {_H.format(x="CAST(g.i AS VARCHAR) || ':' || CAST(p.user_id AS VARCHAR)")} % 512 AS bucket
      FROM probes p CROSS JOIN grid g
    ), est AS (
      SELECT pb.user_id, MIN(COALESCE(s.cnt, 0)) AS est_count
      FROM pb LEFT JOIN sketch s ON s.i = pb.i AND s.bucket = pb.bucket
      GROUP BY 1
    )
    SELECT e.user_id, e.est_count, x.exact_count
    FROM est e
    JOIN (SELECT user_id, COUNT(*) AS exact_count FROM events
          WHERE user_id < 10 GROUP BY 1) x
      USING (user_id)
    """,
    group="streaming",
)
def streaming_countmin_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min ingest over the 3-micro-batch replay: per-cell
    SUM merge of each batch's partial grid (bounded d×w state), then the
    same ten point probes as the batch sketch — bit-exact against the
    one-shot oracle because grid merge is order-insensitive algebra
    (`streaming/process.py::streaming_countmin_jvm`). Completes the
    streaming sketch trio: frequency (this), distinct (HLL fold), top
    items (Misra-Gries fold)."""
    from flink_ci_flink_spark.pipeline.sketches import countmin_estimate
    from flink_ci_flink_spark.streaming import replay_stream
    from flink_ci_flink_spark.streaming.process import streaming_countmin_jvm

    t = load_tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "event_id")
    sk = streaming_countmin_jvm(
        replay_stream(ev, ["ts", "event_id"]),
        value_col="user_id",
    )
    probes = t.events.select("user_id").distinct().filter(F.col("user_id") < 10)
    est = countmin_estimate(sk, probes, "user_id", depth=4, width=512)
    exact = (
        t.events.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    return est.join(exact, "user_id").select(
        "user_id", "est_count", "exact_count"
    )
