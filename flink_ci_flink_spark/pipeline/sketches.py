"""Cardinality / frequency sketches with engine-portable hashing.

At 100 TB, ``COUNT(DISTINCT x)`` over a high-cardinality column shuffles
every distinct value; these sketches bound per-group state to KBs and keep
the aggregation map-side combinable — the standard corpus-stats pass of a
training-data pipeline (distinct URLs/users/tokens per shard, heavy-hitter
screens). Reference parity: the reference's planner *splits* distinct
aggregates rather than sketching them
(`flink-table-planner-blink/.../rules/logical/SplitAggregateRule.java` — the
partial/final distinct split); sketches are the sub-linear-state answer to
the same problem, so they register under the pipeline family.

Engine-portable construction (the repo-wide rule): every hash derives from
md5 hex (`pipeline.text.token_hash` — 60-bit), all sketch state stays in
exact BIGINT arithmetic (shifts, not ``pow(2.0, ...)``; scaled-integer
harmonic sums, not float accumulation), and the only floating-point ops are
the final estimate's one division / one ``ln`` — so the DuckDB oracles
replay every sketch bit-for-bit.

Scale notes per sketch:

- **HLL**: ``groupBy(keys, register).agg(max(rho))`` — map-side combine
  reduces each partition to ≤ m rows per group before the shuffle; final
  state is exactly m=2^b rows per group. The canonical 100 TB distinct.
- **KMV**: k smallest distinct hashes per group via window row_number —
  one shuffle of distinct (group, hash) pairs. (At extreme scale, pre-filter
  ``hash < 2^60 * k * safety / est_rows`` to cut the shuffle; the estimator
  only needs the k minima.)
- **Count-min**: ``groupBy(depth, bucket).agg(sum(cnt))`` — map-side
  combinable; the sketch is a fixed d×w integer grid regardless of input
  size, and point queries are a broadcast join against it.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_ci_flink_spark.pipeline.text import token_hash
from flink_ci_flink_spark.streaming.declarative import FoldSpec

HASH_BITS = 60  # token_hash yields 60-bit positive ints (15 md5 hex chars)

# Standard HLL bias-correction constants (Flajolet et al. 2007, fig. 3).
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _hll_alpha(m: int) -> float:
    return _HLL_ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def _bit_length(col: Column) -> Column:
    """Bit length of a non-negative BIGINT (0 -> 1), via base-2 string —
    portable: DuckDB's ``length(format('{:b}', x))`` computes the same."""
    return F.length(F.conv(col.cast("string"), 10, 2))


def hll_registers(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str],
    b: int = 6,
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    """HyperLogLog register table: one row per (group, register) with the
    max rho observed. register = top ``b`` bits of the 60-bit hash; rho =
    1 + leading zeros of the remaining w = 60-b bits (empty remainder ->
    w+1). Map-side combinable; ≤ 2^b rows per group survive the shuffle.

    ``extra_aggs``: additional aliased aggregates folded into the same
    (group, register) aggregation (e.g. ``F.count("*")`` over a
    pre-distincted input — each distinct value lands in exactly one
    register, so the per-group sum of per-register counts is the exact
    distinct; one pass instead of a sketch pass + an exact pass)."""
    w = HASH_BITS - b
    h = token_hash(F.col(value_col) if isinstance(value_col, str) else value_col)
    # shiftright, not `/` — float division would lose low bits of a 60-bit hash
    reg = F.shiftright(h, w).alias("reg")
    rem = (h % F.lit(2**w)).alias("rem")
    rho = F.when(F.col("rem") == 0, F.lit(w + 1)).otherwise(
        F.lit(w) - _bit_length(F.col("rem")) + 1
    )
    return (
        df.select(*group_cols, reg, rem)
        .withColumn("rho", rho)
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("max_rho"), *extra_aggs)
    )


def hll_distinct(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str],
    b: int = 6,
) -> DataFrame:
    """HLL distinct-count estimate per group.

    Output: group cols + ``v_zero`` (empty registers), ``s_scaled`` (the
    harmonic-sum denominator as an EXACT scaled integer: sum over registers
    of 2^(w+1-rho), empty registers contributing 2^(w+1)), ``est_distinct``
    (rounded estimate; linear counting below the 2.5m threshold, standard
    bias-corrected raw estimate above). Everything before the final
    division/ln is exact BIGINT, so the DuckDB oracle replays it
    bit-for-bit."""
    regs = hll_registers(df, value_col, group_cols, b)
    return hll_estimate_from_registers(regs, group_cols, b)


def kmv_minima(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str],
    k: int = 64,
) -> DataFrame:
    """The KMV sketch itself: the k smallest distinct hashes per group
    (group cols + ``h``). Shard sketches merge losslessly via `kmv_merge`."""
    h = token_hash(F.col(value_col) if isinstance(value_col, str) else value_col)
    hashes = df.select(*group_cols, h.alias("h")).distinct()
    wn = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hashes.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str],
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct estimate per group (Bar-Yossef et al.):
    keep the k smallest distinct 60-bit hashes; if fewer than k exist the
    count is exact, else est = (k-1) * 2^60 / kth_min. Output: group cols +
    ``n_kept``, ``kth_min`` (exact BIGINTs) + ``est_distinct``."""
    kept = kmv_minima(df, value_col, group_cols, k)
    agg = kept.groupBy(*group_cols).agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth_min")
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(2**HASH_BITS)) / F.col("kth_min")
    )
    return agg.withColumn(
        "est_distinct", F.floor(est * 100 + F.lit(0.5)).cast("long") / 100.0
    )


def countmin_sketch(
    df: DataFrame,
    value_col: str | Column,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min sketch of value frequencies: a fixed depth×width integer
    grid. Row-i bucket of v = token_hash(i || ':' || v) % width. Output:
    (i, bucket, cnt) — ≤ depth*width rows however large the input."""
    v = (F.col(value_col) if isinstance(value_col, str) else value_col).cast("string")
    rows = df.select(
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("i"),
        v.alias("v"),
    )
    bucket = token_hash(F.concat_ws(":", F.col("i"), F.col("v"))) % width
    return (
        rows.withColumn("bucket", bucket)
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    probe_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query the sketch: est(v) = min over rows i of the bucket count
    (an over-estimate by construction, tight for heavy hitters). ``probes``
    is small — the sketch side is too (d×w) — so Catalyst broadcasts."""
    p = probes.select(
        F.col(probe_col),
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("i"),
    )
    bucket = token_hash(F.concat_ws(":", F.col("i"), F.col(probe_col).cast("string"))) % width
    p = p.withColumn("bucket", bucket)
    joined = p.join(F.broadcast(sketch), ["i", "bucket"], "left").fillna(
        {"cnt": 0}
    )
    return joined.groupBy(probe_col).agg(F.min("cnt").alias("est_count"))


# ---------------------------------------------------------------------------
# Sketch merges — the distributed-aggregation property. A 1000-executor job
# sketches each shard independently and merges the tiny sketch tables;
# merged state is IDENTICAL to sketching the union (proven by the
# partition-invariance tests), so shard-parallel corpus stats need no
# second pass over the data.
# ---------------------------------------------------------------------------


def hll_spec(group_cols: Sequence[str], value_col=None, b: int = 6) -> FoldSpec:
    """HLL as a `FoldSpec` on (group, register): `hll_registers`, merged by
    per-register max (lossless: max is associative and commutative), then
    `hll_estimate_from_registers`. Merging alone needs no ``value_col``."""
    return FoldSpec(
        [*group_cols, "reg"],
        prepare=lambda df: hll_registers(df, value_col, group_cols, b),
        merge={"max_rho": "max(max_rho)"},
        emit=lambda regs: hll_estimate_from_registers(regs, group_cols, b),
    )


def hll_merge(*register_tables: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge HLL register tables (outputs of `hll_registers` over disjoint
    shards) by `hll_spec`'s merge leg."""
    states = reduce(DataFrame.unionByName, register_tables)
    return hll_spec(group_cols).merge_plan(states)


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: Sequence[str],
    b: int = 6,
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    """Estimate from a (merged) register table — the tail of `hll_distinct`,
    exposed so shard-merged sketches finish identically.

    ``extra_aggs``: additional aliased aggregate Columns evaluated in the
    same per-group aggregation and carried through the output — lets a
    caller fold a sibling exact statistic (e.g. a per-register distinct
    count whose per-group sum is the exact distinct) into the register
    roll-up instead of paying a second pass over the input."""
    m, q = 2**b, HASH_BITS - b + 1
    alpha = _hll_alpha(m)
    per_group = regs.groupBy(*group_cols).agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {q} - max_rho)")).alias(
            "s_present"
        ),
        *extra_aggs,
    )
    carried = [
        c
        for c in per_group.columns
        if c not in (*group_cols, "n_present", "s_present")
    ]
    out = per_group.select(
        *group_cols,
        (F.lit(m) - F.col("n_present")).alias("v_zero"),
        (F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(2**q)).alias(
            "s_scaled"
        ),
        *carried,
    )
    raw = F.lit(alpha * m * m * float(2**q)) / F.col("s_scaled")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero"))
    est = F.when((raw <= 2.5 * m) & (F.col("v_zero") > 0), linear).otherwise(raw)
    return out.withColumn(
        "est_distinct", F.floor(est * 100 + F.lit(0.5)).cast("long") / 100.0
    )


def kmv_merge(
    *kept_tables: DataFrame, group_cols: Sequence[str], k: int = 64
) -> DataFrame:
    """Merge per-shard k-minima tables (schema: group cols + ``h``): union,
    distinct, re-take the k smallest per group. The k smallest of a union
    are among the per-shard k smallest, so this is lossless."""
    out = kept_tables[0]
    for t in kept_tables[1:]:
        out = out.unionByName(t)
    wn = Window.partitionBy(*group_cols).orderBy("h")
    return (
        out.distinct()
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def countmin_spec(value_col=None, depth: int = 4, width: int = 512) -> FoldSpec:
    """Count-min as a `FoldSpec` on (i, bucket): `countmin_sketch`, merged
    by cell-wise sum (counts are linear). Merging needs no ``value_col``."""
    return FoldSpec(
        ["i", "bucket"],
        prepare=lambda df: countmin_sketch(df, value_col, depth, width),
        merge={"cnt": "sum(cnt)"},
    )


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min grids by `countmin_spec`'s merge leg."""
    return countmin_spec().merge_plan(reduce(DataFrame.unionByName, sketches))


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters: the deterministic-guarantee frequent-items
# sketch. Where count-min answers point queries with one-sided OVERcount,
# Misra-Gries keeps ≤ k counters with one-sided UNDERcount ≤ n/(k+1) — so
# every item with true frequency ≥ n/k is GUARANTEED present in the summary
# (Misra & Gries 1982; merge rule per Agarwal et al., "Mergeable
# Summaries", PODS 2012: sum counters, subtract the (k+1)-th largest,
# keep positives — the error bound survives any merge tree).
# ---------------------------------------------------------------------------


def _mg_merge(counters: dict, incoming, k: int) -> dict:
    """Merge exact/MG counts into an MG(k) state (mergeable-summaries
    rule). ``incoming`` is an iterable of (item, count)."""
    for item, c in incoming:
        counters[item] = counters.get(item, 0) + int(c)
    if len(counters) > k:
        spill = sorted(counters.values(), reverse=True)[k]
        counters = {i: c - spill for i, c in counters.items() if c > spill}
    return counters


def misra_gries_summaries(
    df: DataFrame, col: str, k: int
) -> DataFrame:
    """Per-partition Misra-Gries(k) summaries: each partition reduces its
    item stream to ≤ k (item, lower-bound count) rows in one pass with
    O(k) memory — Arrow-batched (each batch's exact value_counts merged
    into the running MG state), never a per-row Python loop. Pigeonhole:
    an item with global frequency ≥ n/k has local frequency ≥ n_p/k in
    at least one partition, and MG(k)'s ≤ n_p/(k+1) undercount keeps any
    such item, so the UNION of partition summaries is a guaranteed
    superset of the global heavy hitters — the candidate-generation half
    of `heavy_hitters`."""
    import pandas as pd

    def summarize(batches):
        state: dict = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            vc = pdf[col].value_counts()
            state = _mg_merge(state, vc.items(), k)
        if state:
            # n_part rides the first summary row (0 elsewhere): the classic
            # MG summary carries its stream length n, so heavy_hitters can
            # derive the global n from the summaries instead of paying a
            # second full pass over the (expensive-to-produce) item stream.
            n_col = [n_rows] + [0] * (len(state) - 1)
            yield pd.DataFrame(
                {
                    col: list(state.keys()),
                    "mg_count": list(state.values()),
                    "n_part": n_col,
                }
            )
        elif n_rows:
            # all counters cancelled (possible when every item ties): emit
            # one null-item marker so n_part is never lost; a null item
            # joins nothing downstream.
            yield pd.DataFrame(
                {col: [None], "mg_count": [0], "n_part": [n_rows]}
            )

    field = df.schema[col].dataType.simpleString()
    return df.select(col).mapInPandas(
        summarize, schema=f"{col} {field}, mg_count long, n_part long"
    )


def heavy_hitters(
    df: DataFrame, col: str, k: int, hashed: bool = True
) -> DataFrame:
    """EXACT items with frequency ≥ n/k, at sub-linear shuffle cost: MG(k)
    per-partition summaries generate ≤ k·partitions candidates (a
    guaranteed superset), then one broadcast semi-join + exact recount of
    the candidates only — the full-cardinality ``groupBy(col)`` shuffle
    never happens. Output: (col, cnt, n) with cnt·k ≥ n.

    ``hashed=True`` (default) runs the summary pass over ``xxhash64``
    longs instead of the raw values — ~8x less Arrow transfer into the
    Python stage for string items (measured 6.5s → 2.8s at 20M rows / 5M
    distinct). A hash collision only MERGES two items' summary counts
    upward, so the candidate set stays a guaranteed superset; the final
    recount keys on the real column, so the result is identical.

    Regime note (measured): at local scale with modest cardinality the
    plain JVM ``groupBy(col)`` matches this path — the sketch's win is
    the 100 TB regime where the full-cardinality shuffle (distinct items
    × row width across the cluster) is the constraint, not CPU.

    The summaries MATERIALIZE at the driver at construction time (an
    eager collect) — they are k×partitions-bounded, the exact rows the
    broadcast join ships anyway — so both the candidate set AND the
    stream length n come out of ONE pass over the item stream. The old
    lazy form paid a third full pass (re-tokenization included, when the
    items come from an explode) just to COUNT(*) the stream for n:
    round-11 scans-per-table audit caught documents:3 on
    pipe_heavy_hitters; now 2 (summaries + exact recount), the minimum
    the exact-recount contract allows."""
    key = "__h" if hashed else col
    src = (
        df.select(F.xxhash64(F.col(col)).alias("__h")) if hashed else df
    )
    rows = misra_gries_summaries(src, key, k).collect()
    n = sum(r["n_part"] for r in rows)
    items = sorted({r[key] for r in rows if r[key] is not None})
    spark = df.sparkSession
    field = src.schema[key].dataType.simpleString()
    cands = spark.createDataFrame([(i,) for i in items], f"{key} {field}")
    keyed = df.withColumn("__h", F.xxhash64(F.col(col))) if hashed else df
    counted = (
        keyed.join(F.broadcast(cands), key)
        .groupBy(col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return counted.withColumn("n", F.lit(n).cast("bigint")).filter(
        F.col("cnt") * k >= F.col("n")
    )
