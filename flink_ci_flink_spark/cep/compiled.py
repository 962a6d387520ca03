"""Whole-JVM compilation of fixed-length strictly-contiguous CEP patterns.

Reference: the reference compiles MATCH_RECOGNIZE onto its NFA
(`StreamExecMatch.scala:68`) unconditionally; on Spark, a pattern whose
stages are all fixed-count and strictly contiguous is exactly a lead()
window expression — one shuffle, whole-stage codegen, zero Python. The
batch `cep()` operator routes through here when the pattern qualifies
(every stage carries a SQL `expr`), falling back to the Arrow/NFA path
otherwise. Compiled and NFA paths are asserted equivalent in
tests/test_cep.py.

Supported: positive stages with times(n, n) (repeats consecutive when
n > 1), negative strict stages (not_next — including trailing), a TRAILING
relaxed negative stage (not_followed_by absence detection, requires
within() — compiled to a min-over-following-rows "next negative event"
window check), within, NO_SKIP. Not compilable: variable quantifiers,
optional, relaxed positive contiguity, until, middle not_followed_by,
other skip strategies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flink_ci_flink_spark.cep.pattern import NO_SKIP, Pattern
from flink_ci_flink_spark.operators.grouped import order_spec, sort_exprs


def _compilable(pattern: Pattern, allow_variable: bool = False) -> bool:
    if pattern.after_match != NO_SKIP:
        return False
    if not pattern.stages or all(st.negated for st in pattern.stages):
        return False
    for i, st in enumerate(pattern.stages):
        if st.expr is None or st.until is not None or st.ctx_predicate is not None:
            return False
        if st.negated:
            if st.contiguity != "strict":
                # not_followed_by scans a gap — compilable only as the final
                # stage (absence detection) with a within() bound
                if i != len(pattern.stages) - 1 or pattern.within_seconds is None:
                    return False
            continue
        if not allow_variable and (st.optional or st.min_times != st.max_times):
            return False
        if st.max_times > 1 and st.inner_contiguity != "strict":
            return False  # relaxed repeats are not fixed-offset
        if i > 0 and st.contiguity != "strict":
            return False
    return True


#: expansion cap — bounded-quantifier patterns compile when the product of
#: count choices stays at or below this (each expansion adds lead() exprs)
_MAX_EXPANSIONS = 32


def _expansions(pattern: Pattern) -> list[tuple] | None:
    """Count vectors (one entry per stage; None for negatives) enumerated
    in the NFA's branch-preference order: per stage, greedy counts descend
    and non-greedy ascend, optional appends 0 LAST (`nfa.py::rec`'s
    options list); the cartesian product iterates stage 0 outermost —
    exactly the matcher's depth-first preference, so the FIRST expansion
    whose condition holds is the match the NFA emits for that anchor."""
    import itertools

    ranges: list[list] = []
    total = 1
    for st in pattern.stages:
        if st.negated:
            ranges.append([None])
            continue
        counts = (
            list(range(st.max_times, st.min_times - 1, -1))
            if st.greedy
            else list(range(st.min_times, st.max_times + 1))
        )
        if st.optional and 0 not in counts:
            counts = counts + [0]
        ranges.append(counts)
        total *= len(counts)
        if total > _MAX_EXPANSIONS:
            return None
    exps = [
        e
        for e in itertools.product(*ranges)
        if sum(c for c in e if c) > 0  # at least one consumed event
    ]
    return exps or None


def try_compile(
    df: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col: str,
    measures: dict[str, tuple],
    output_schema: str,
    replay_delay: float | None = None,
) -> DataFrame | None:
    """Return the compiled plan, or None when the pattern doesn't qualify.

    Round 5: widened from fixed-length-only to BOUNDED QUANTIFIERS and
    OPTIONAL stages by enumerating count expansions (`_expansions`, capped
    at _MAX_EXPANSIONS) in the NFA's branch-preference order. Each
    expansion is a fixed-offset lead() conjunction; an anchor matches when
    ANY expansion holds, and each measure is a preference-ordered CASE
    over the expansions (first matching expansion wins — exactly the
    branch the NFA would emit). A fixed-length pattern has one expansion
    and reduces to the original compile. A variable name may label
    SEVERAL stages (PATTERN (A A B)): per-variable offsets merge across
    them within an expansion.

    ``ts_col`` may be a list ``[time_attribute, secondary, ...]``
    (MATCH_RECOGNIZE ORDER BY with secondary sort columns,
    `StreamExecMatch.scala:68`): the lead()/row_number() windows order by
    every column, time attribute first, then the stable __seq tie-break.

    ``replay_delay`` switches on the `cep_stream_replay` per-batch mode:
    the result additionally carries ``__ident`` (content identity — md5
    over the partition key plus per-variable matched event times, stable
    across micro-batches because the same compiled plan runs every batch)
    and ``__t0`` (anchor epoch seconds), and is filtered to CLOSED matches
    (last event at/behind the per-key frontier = max event time − delay,
    mirroring `operator._match_closed`). The closedness shortcut
    last_ts<=frontier is only valid when no trailing stage could extend or
    invalidate the match, so this mode compiles FIXED-LENGTH ALL-POSITIVE
    patterns only (single expansion, no negated/optional stages) and
    returns None otherwise — the caller falls back to the per-batch NFA."""
    if not _compilable(pattern, allow_variable=True):
        return None
    order_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    ts_col, _ts_desc = order_spec(order_cols[0])
    if _ts_desc:
        raise NotImplementedError(
            "the time attribute (first ORDER BY column) must be ascending"
        )
    expansions = _expansions(pattern)
    if expansions is None:
        return None

    schema = StructType.fromDDL(output_schema)
    types = {f.name: f.dataType for f in schema.fields}

    work = df
    for i, st in enumerate(pattern.stages):
        work = work.withColumn(f"__p{i}", F.coalesce(F.expr(st.expr), F.lit(False)))
    from flink_ci_flink_spark.functions.scalar import epoch_seconds

    work = work.withColumn("__tsec", epoch_seconds(work, ts_col))
    # stable tie-break for equal timestamps within a key: the NFA path
    # sorts by ts with original row order preserved (stable sort), so the
    # compiled lead()/row_number() windows must order identically or
    # tied-anchor numbering diverges between the two implementations
    work = work.withColumn("__seq", F.monotonically_increasing_id())
    measure_cols: dict[str, str] = {}
    for mi, (out_name, (var, kind, fieldexpr)) in enumerate(measures.items()):
        if kind in ("first", "last", "sum", "avg", "min", "max") and fieldexpr is not None:
            measure_cols[out_name] = f"__m{mi}"
            work = work.withColumn(f"__m{mi}", F.expr(fieldexpr))

    w = Window.partitionBy(*keys).orderBy(*sort_exprs(order_cols), "__seq")

    def at(col: str, off: int) -> Column:
        return F.col(col) if off == 0 else F.lead(col, off).over(w)

    def expansion_plan(counts: tuple):
        """(cond, occ_offsets, last_off) for one count expansion."""
        offset = 0
        occ_offsets: dict[str, list[int]] = {}
        stage_offsets: list[tuple[int, list[int]]] = []
        neg_checks: list[tuple[int, int]] = []
        trailing_neg: int | None = None
        for i, st in enumerate(pattern.stages):
            if st.negated:
                if st.contiguity == "strict":
                    neg_checks.append((offset, i))
                else:
                    trailing_neg = i
                continue
            c = counts[i]
            offs = list(range(offset, offset + c))
            occ_offsets.setdefault(st.name, []).extend(offs)
            if offs:
                stage_offsets.append((i, offs))
            offset += c
        last_off = offset - 1

        conds: list[Column] = []
        for i, offs in stage_offsets:
            for o in offs:
                conds.append(F.coalesce(at(f"__p{i}", o), F.lit(False)))
        if pattern.within_seconds is not None and last_off > 0:
            conds.append(
                (at("__tsec", last_off) - F.col("__tsec"))
                <= F.lit(pattern.within_seconds)
            )
        for o, i in neg_checks:
            neg_hit = F.coalesce(at(f"__p{i}", o), F.lit(False))
            if pattern.within_seconds is not None and o > 0:
                neg_hit = neg_hit & (
                    (at("__tsec", o) - F.col("__tsec"))
                    <= F.lit(pattern.within_seconds)
                )
            conds.append(~neg_hit)
        if trailing_neg is not None:
            # absence detection: no negative-matching event among the rows
            # after the last consumed one with ts <= anchor ts + within.
            i = trailing_neg
            wf = w.rowsBetween(last_off + 1, Window.unboundedFollowing)
            next_neg = F.min(F.when(F.col(f"__p{i}"), F.col("__tsec"))).over(wf)
            conds.append(
                F.coalesce(
                    next_neg > F.col("__tsec") + F.lit(pattern.within_seconds),
                    F.lit(True),
                )
            )
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        return cond, occ_offsets, last_off

    def measure_value(out_name, var, kind, occ_offsets, last_off) -> Column:
        """One measure's value under one expansion."""
        if kind in ("classifier", "classifier_first"):
            want = 0 if kind == "classifier_first" else last_off
            name = next(v for v, offs in occ_offsets.items() if want in offs)
            return F.lit(name)
        offs = occ_offsets.get(var, [])
        if kind == "count":
            return F.lit(len(offs)).cast("long")
        if not offs:  # skipped optional / zero-count variable
            return F.lit(None).cast(types[out_name])
        mcol = measure_cols[out_name]
        if kind == "first":
            return at(mcol, offs[0])
        if kind == "last":
            return at(mcol, offs[-1])
        if kind in ("sum", "avg"):
            total = at(mcol, offs[0])
            for o in offs[1:]:
                total = total + at(mcol, o)
            if kind == "avg":
                total = total.cast("double") / F.lit(float(len(offs)))
            return total
        if kind in ("min", "max"):
            cols = [at(mcol, o) for o in offs]
            if len(cols) == 1:
                return cols[0]
            return F.least(*cols) if kind == "min" else F.greatest(*cols)
        raise ValueError(f"unknown measure kind {kind!r}")

    plans = [expansion_plan(e) for e in expansions]
    match_any = plans[0][0]
    for cond, _oo, _lo in plans[1:]:
        match_any = match_any | cond

    ext_exprs: list[Column] = []
    if replay_delay is not None:
        if len(plans) != 1 or any(
            st.negated or st.optional for st in pattern.stages
        ):
            return None
        _cond, occ_offsets, last_off = plans[0]
        frontier = F.max("__tsec").over(Window.partitionBy(*keys)) - F.lit(
            float(replay_delay)
        )
        match_any = match_any & (at("__tsec", last_off) <= frontier)
        # identity = partition key + per-variable matched event times —
        # consistent every batch because compilability is data-independent,
        # so the SAME plan (never the Python NFA's scheme) emits all idents
        pieces: list[Column] = []
        for name in sorted(occ_offsets):
            pieces.append(F.lit(name))
            pieces.append(
                F.concat_ws(
                    ",",
                    *[at("__tsec", o).cast("string") for o in occ_offsets[name]],
                )
            )
        ext_exprs = [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(k).cast("string") for k in keys], *pieces
                )
            ).alias("__ident"),
            F.col("__tsec").cast("double").alias("__t0"),
        ]

    # measure lead()s MUST be computed in the same pre-filter projection as
    # the match condition — after filter they'd range over matches, not rows
    measure_exprs: list[Column] = []
    for out_name, (var, kind, _fieldexpr) in measures.items():
        if len(plans) == 1:
            c = measure_value(out_name, var, kind, plans[0][1], plans[0][2])
        else:
            # preference-ordered CASE: the first matching expansion's value
            c = F.when(
                plans[0][0],
                measure_value(out_name, var, kind, plans[0][1], plans[0][2]),
            )
            for cond, oo, lo in plans[1:]:
                c = c.when(cond, measure_value(out_name, var, kind, oo, lo))
        measure_exprs.append(c.cast(types[out_name]).alias(out_name))

    result = (
        work.select(
            *[F.col(k) for k in keys],
            match_any.alias("__match"),
            *measure_exprs,
            *ext_exprs,
        )
        .filter("__match")
        .drop("__match")
    )
    ddl = output_schema
    if replay_delay is not None:
        ddl = output_schema + ", __ident string, __t0 double"
    return result.to(StructType.fromDDL(ddl))


def try_compile_all_rows(
    df: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col: str,
    measures: dict[str, tuple],
    payload_cols: list[str],
    output_schema: str,
    anchor_meta: bool = False,
) -> DataFrame | None:
    """Whole-JVM ALL ROWS PER MATCH for strict NO_SKIP patterns — incl.
    BOUNDED QUANTIFIERS and optional stages via the same count-expansion
    enumeration as the one-row compile (round 5): per expansion, the
    anchor condition is a fixed-offset lead() conjunction and emission is
    one struct per consumed offset (payload via lead(col, off), the
    expansion's per-offset CLASSIFIER, RUNNING measures unrolled to
    lead() sums over offsets <= the emitted one); the emitted array is a
    preference-ordered CASE over expansions and explodes. One shuffle,
    whole-stage codegen, zero Python (the NFA flat path handles every
    other pattern). MATCH_NUMBER (`match_seq`) is a row_number over
    matched anchors per key. Returns None when the pattern doesn't
    qualify."""
    if not _compilable(pattern, allow_variable=True):
        return None
    order_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    ts_col, _ts_desc = order_spec(order_cols[0])
    if _ts_desc:
        raise NotImplementedError(
            "the time attribute (first ORDER BY column) must be ascending"
        )
    expansions = _expansions(pattern)
    if expansions is None:
        return None

    schema = StructType.fromDDL(output_schema)
    types = {f.name: f.dataType for f in schema.fields}

    work = df
    for i, st in enumerate(pattern.stages):
        work = work.withColumn(f"__p{i}", F.coalesce(F.expr(st.expr), F.lit(False)))
    from flink_ci_flink_spark.functions.scalar import epoch_seconds

    work = work.withColumn("__tsec", epoch_seconds(work, ts_col))
    # stable tie-break for equal timestamps within a key: the NFA path
    # sorts by ts with original row order preserved (stable sort), so the
    # compiled lead()/row_number() windows must order identically or
    # tied-anchor numbering diverges between the two implementations
    work = work.withColumn("__seq", F.monotonically_increasing_id())
    measure_cols: dict[str, str] = {}
    for mi, (out_name, (var, kind, fieldexpr)) in enumerate(measures.items()):
        if kind in ("first", "last", "sum", "avg", "min", "max") and fieldexpr is not None:
            measure_cols[out_name] = f"__m{mi}"
            work = work.withColumn(f"__m{mi}", F.expr(fieldexpr))

    w = Window.partitionBy(*keys).orderBy(*sort_exprs(order_cols), "__seq")

    def at(col: str, off: int) -> Column:
        return F.col(col) if off == 0 else F.lead(col, off).over(w)

    def expansion_plan(counts: tuple):
        """(cond, occ_offsets, off2var, last_off) for one expansion."""
        offset = 0
        occ_offsets: dict[str, list[int]] = {}
        stage_offsets: list[tuple[int, list[int]]] = []
        neg_checks: list[tuple[int, int]] = []
        trailing_neg: int | None = None
        for i, st in enumerate(pattern.stages):
            if st.negated:
                if st.contiguity == "strict":
                    neg_checks.append((offset, i))
                else:
                    trailing_neg = i
                continue
            c = counts[i]
            offs = list(range(offset, offset + c))
            occ_offsets.setdefault(st.name, []).extend(offs)
            if offs:
                stage_offsets.append((i, offs))
            offset += c
        last_off = offset - 1
        off2var = {o: v for v, offs in occ_offsets.items() for o in offs}

        conds: list[Column] = []
        for i, offs in stage_offsets:
            for o in offs:
                conds.append(F.coalesce(at(f"__p{i}", o), F.lit(False)))
        if pattern.within_seconds is not None and last_off > 0:
            conds.append(
                (at("__tsec", last_off) - F.col("__tsec"))
                <= F.lit(pattern.within_seconds)
            )
        for o, i in neg_checks:
            neg_hit = F.coalesce(at(f"__p{i}", o), F.lit(False))
            if pattern.within_seconds is not None and o > 0:
                neg_hit = neg_hit & (
                    (at("__tsec", o) - F.col("__tsec"))
                    <= F.lit(pattern.within_seconds)
                )
            conds.append(~neg_hit)
        if trailing_neg is not None:
            i = trailing_neg
            wf = w.rowsBetween(last_off + 1, Window.unboundedFollowing)
            next_neg = F.min(F.when(F.col(f"__p{i}"), F.col("__tsec"))).over(wf)
            conds.append(
                F.coalesce(
                    next_neg > F.col("__tsec") + F.lit(pattern.within_seconds),
                    F.lit(True),
                )
            )
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        return cond, occ_offsets, off2var, last_off

    def running_measure(out_name, spec, j, occ_offsets, off2var) -> Column:
        var, kind, fieldexpr = spec
        if kind == "classifier":
            return F.lit(off2var[j]).alias(out_name)
        if kind == "classifier_first":
            return F.lit(off2var[0]).alias(out_name)
        run_offs = [o for o in occ_offsets.get(var, []) if o <= j]
        if kind == "count":
            return F.lit(len(run_offs)).cast("long").alias(out_name)
        if not run_offs:
            return F.lit(None).cast(types[out_name]).alias(out_name)
        mcol = measure_cols[out_name]
        if kind == "first":
            return at(mcol, run_offs[0]).cast(types[out_name]).alias(out_name)
        if kind == "last":
            return at(mcol, run_offs[-1]).cast(types[out_name]).alias(out_name)
        if kind in ("sum", "avg"):
            total = at(mcol, run_offs[0])
            for o in run_offs[1:]:
                total = total + at(mcol, o)
            if kind == "avg":
                total = total.cast("double") / F.lit(float(len(run_offs)))
            return total.cast(types[out_name]).alias(out_name)
        cols = [at(mcol, o) for o in run_offs]
        c = cols[0] if len(cols) == 1 else (
            F.least(*cols) if kind == "min" else F.greatest(*cols)
        )
        return c.cast(types[out_name]).alias(out_name)

    plans = [expansion_plan(e) for e in expansions]
    cond = plans[0][0]
    for c, _oo, _ov, _lo in plans[1:]:
        cond = cond | c

    def rows_array(occ_offsets, off2var, last_off) -> Column:
        structs = []
        for j in range(last_off + 1):
            fields = [
                at(c, j).cast(types[c]).alias(c) for c in payload_cols
            ] + [
                F.lit(off2var[j]).alias("classifier")
            ] + [
                running_measure(out_name, spec, j, occ_offsets, off2var)
                for out_name, spec in measures.items()
            ]
            structs.append(F.struct(*fields))
        return F.array(*structs)

    if len(plans) == 1:
        rows_col = rows_array(plans[0][1], plans[0][2], plans[0][3])
        last_ts_col = at(ts_col, plans[0][3])
    else:
        # preference-ordered CASE: the first matching expansion's row set
        rows_col = F.when(plans[0][0], rows_array(plans[0][1], plans[0][2], plans[0][3]))
        last_ts_col = F.when(plans[0][0], at(ts_col, plans[0][3]))
        for c, oo, ov, lo in plans[1:]:
            rows_col = rows_col.when(c, rows_array(oo, ov, lo))
            last_ts_col = last_ts_col.when(c, at(ts_col, lo))

    anchors = (
        work.select(
            *[F.col(k) for k in keys],
            F.col(ts_col).alias("__anchor_ts"),
            *[
                F.col(order_spec(c)[0]).alias(f"__anchor_o{i}")
                for i, c in enumerate(order_cols[1:])
            ],
            F.col("__seq").alias("__anchor_seq"),
            # last consumed row's event time — the streaming wrapper's
            # emission frontier check needs it (a match is final once its
            # last row is at/behind the per-key frontier)
            last_ts_col.alias("__last_ts"),
            cond.alias("__match"),
            rows_col.alias("__rows"),
        )
        .filter("__match")
        .withColumn(
            "match_seq",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(
                    "__anchor_ts",
                    *[
                        F.col(f"__anchor_o{i}").desc()
                        if order_spec(c)[1]
                        else F.col(f"__anchor_o{i}").asc()
                        for i, c in enumerate(order_cols[1:])
                    ],
                    "__anchor_seq",
                )
            ).cast("long"),
        )
    )
    exploded = anchors.select(
        *[F.col(k) for k in keys],
        "match_seq",
        "__anchor_ts",
        "__last_ts",
        F.explode("__rows").alias("__r"),
    )
    out_cols = []
    for f in schema.fields:
        if f.name in keys or f.name == "match_seq":
            out_cols.append(F.col(f.name))
        else:
            out_cols.append(F.col(f"__r.{f.name}").alias(f.name))
    if anchor_meta:
        return exploded.select(
            *out_cols, F.col("__anchor_ts"), F.col("__last_ts")
        )
    return exploded.select(*out_cols).to(schema)


def stream_all_rows_jvm(
    stream: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col: str,
    measures: dict[str, tuple],
    payload_cols: list[str],
    output_schema: str,
    state_dir: str | None = None,
    delay_seconds: float = 0.0,
) -> DataFrame | None:
    """Streaming ALL ROWS PER MATCH for compiled patterns — zero per-key
    Python (beyond reference parity twice over: `StreamExecMatch.scala:192`
    throws on ALL ROWS even in batch).

    foreachBatch merge over a versioned parquet buffer
    (`streaming.core.VersionedState`): per micro-batch,
    the key's buffered suffix is re-planned through the SAME lead()/explode
    compile as batch (`try_compile_all_rows`), and a match emits exactly
    once — in the first batch where its last row falls at/behind the
    per-key frontier (max event time − delay, the `cep_stream` closed-match
    rule; fixed-length strict patterns close exactly when their last row is
    final). No identity state: emission is the frontier-interval predicate
    ``prev_frontier < last_ts <= frontier`` — matches are monotone in both
    anchor and last-row order for fixed-length patterns, so per-key
    MATCH_NUMBER continues as a stored offset + rank within the batch.

    Buffer pruning keeps rows above the frontier plus the trailing
    max(L-1, 1) finalized rows per key (a contiguous suffix — strict
    adjacency inside the kept region is exact; any match spanning further
    back has already emitted). State is keys x (in-flight + L) rows.

    Assumes out-of-orderness <= delay_seconds and distinct event times per
    key (the repo-wide streaming assumptions). Runs the bounded stream to
    completion and returns the emitted rows as a batch DataFrame; returns
    None without consuming the stream when the pattern doesn't compile."""
    if not _compilable(pattern):
        return None
    from flink_ci_flink_spark.functions.scalar import epoch_seconds
    from flink_ci_flink_spark.streaming.core import (
        VersionedState,
        append_epoch,
        drain_foreach_batch,
        read_epochs,
    )

    L = sum(st.max_times for st in pattern.stages if not st.negated)
    keep_tail = max(L - 1, 1)
    spark = stream.sparkSession
    schema = StructType.fromDDL(output_schema)
    cols = list(dict.fromkeys([*keys, ts_col, *payload_cols]))
    versions = VersionedState(spark, state_dir, "buf_v", "meta_v")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        with versions.batch(batch_id) as prev_id:
            step(batch_df, batch_id, prev_id)

    def step(batch_df: DataFrame, batch_id: int, prev_id: int | None) -> None:
        buf = batch_df.select(*cols)
        if prev_id is not None:
            buf = versions.read("buf_v", prev_id).unionByName(buf)
        buf = buf.localCheckpoint()  # one materialization feeds 4 plans
        fr = buf.withColumn("__tsec", epoch_seconds(buf, ts_col)).groupBy(
            *keys
        ).agg((F.max("__tsec") - F.lit(delay_seconds)).alias("__frontier"))
        meta = versions.read("meta_v", prev_id)
        if meta is None:
            meta = fr.select(
                *keys,
                F.lit(float("-inf")).alias("__frontier_prev"),
                F.lit(0).cast("long").alias("__n_matches"),
            ).limit(0)
        m = try_compile_all_rows(
            buf, pattern, keys, ts_col, measures, payload_cols,
            output_schema, anchor_meta=True,
        )
        m = (
            m.withColumn("__last_sec", epoch_seconds(m, "__last_ts"))
            .join(fr, keys)
            .join(
                meta.select(
                    *keys, "__frontier_prev", "__n_matches"
                ),
                keys,
                "left",
            )
            .withColumn(
                "__fp", F.coalesce("__frontier_prev", F.lit(float("-inf")))
            )
        )
        newly = m.filter(
            (F.col("__last_sec") <= F.col("__frontier"))
            & (F.col("__last_sec") > F.col("__fp"))
        )
        # MATCH_NUMBER continuation: stored per-key count + rank of this
        # batch's newly-final anchors in anchor order
        rank_w = Window.partitionBy(*keys).orderBy("__anchor_ts")
        out = newly.withColumn(
            "match_seq",
            (
                F.coalesce("__n_matches", F.lit(0))
                + F.dense_rank().over(rank_w)
            ).cast("long"),
        ).select(*[f.name for f in schema.fields])
        append_epoch(out, f"{versions.dir}/out", batch_id)
        # advance meta: new frontier + emitted-match count per key
        emitted_counts = (
            newly.groupBy(*keys)
            .agg(F.countDistinct("__anchor_ts").alias("__new"))
        )
        new_meta = (
            fr.join(meta.select(*keys, "__n_matches"), keys, "left")
            .join(emitted_counts, keys, "left")
            .select(
                *keys,
                F.col("__frontier").alias("__frontier_prev"),
                (
                    F.coalesce("__n_matches", F.lit(0))
                    + F.coalesce("__new", F.lit(0))
                ).cast("long").alias("__n_matches"),
            )
        )
        versions.write(new_meta, "meta_v", batch_id)
        # prune: in-flight rows + the trailing finalized suffix
        tw = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
        pruned = (
            buf.withColumn("__tsec", epoch_seconds(buf, ts_col))
            .join(fr, keys)
            .withColumn(
                "__keep",
                (F.col("__tsec") > F.col("__frontier"))
                | (
                    F.row_number().over(tw) <= keep_tail + F.sum(
                        F.when(F.col("__tsec") > F.col("__frontier"), 1).otherwise(0)
                    ).over(Window.partitionBy(*keys))
                ),
            )
            .filter("__keep")
            .select(*cols)
        )
        versions.write(pruned, "buf_v", batch_id)

    drain_foreach_batch(stream, merge)
    # full-row distinct absorbs at-least-once re-appends of a replayed batch
    return (
        read_epochs(spark, f"{versions.dir}/out", schema=schema)
        .dropDuplicates()
        .to(schema)
    )


def try_compile_timeouts(
    df: DataFrame,
    pattern: Pattern,
    keys: list[str],
    ts_col: str,
    measures: dict[str, tuple],
    output_schema: str,
) -> DataFrame | None:
    """Whole-JVM TIMEOUT side output for the abandonment shape — a single
    anchor stage relaxed-followed-by one closing stage with within()
    (click-no-purchase-within-T and friends, the dominant
    `TimedOutPartialMatchHandler` use-case).

    For this shape a timed-out partial is exactly absence detection: the
    anchor matched and no closing event with ts <= anchor + within follows
    it — the same min-over-following-rows window check the compiled
    trailing-not_followed_by plan uses, so the whole side output is one
    shuffle + whole-stage codegen, zero Python. Measures over the
    never-reached closing variable are NULL (matching the NFA path); the
    ``timeout`` measure kind emits anchor epoch + within. Patterns with
    longer prefixes can die mid-prefix with richer partials, so they fall
    back to the NFA scan (`find_matches_and_timeouts`). Returns None when
    the pattern doesn't qualify."""
    order_cols = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    ts_col, _ts_desc = order_spec(order_cols[0])
    if _ts_desc:
        raise NotImplementedError(
            "the time attribute (first ORDER BY column) must be ascending"
        )
    sts = pattern.stages
    if (
        pattern.after_match != NO_SKIP
        or pattern.within_seconds is None
        or len(sts) != 2
        or any(st.negated or st.optional or st.until is not None for st in sts)
        or any(st.expr is None or st.ctx_predicate is not None for st in sts)
        or sts[0].max_times != 1
        or sts[1].contiguity == "strict"
        or sts[1].min_times < 1
    ):
        return None
    schema = StructType.fromDDL(output_schema)
    types = {f.name: f.dataType for f in schema.fields}
    anchor_var, close_var = sts[0].name, sts[1].name

    from flink_ci_flink_spark.functions.scalar import epoch_seconds

    work = (
        df.withColumn("__p0", F.coalesce(F.expr(sts[0].expr), F.lit(False)))
        .withColumn("__p1", F.coalesce(F.expr(sts[1].expr), F.lit(False)))
        .withColumn("__tsec", epoch_seconds(df, ts_col))
        .withColumn("__seq", F.monotonically_increasing_id())
    )
    measure_cols: dict[str, str] = {}
    for mi, (out_name, (var, kind, fieldexpr)) in enumerate(measures.items()):
        if var == anchor_var and kind != "timeout" and fieldexpr is not None:
            measure_cols[out_name] = f"__m{mi}"
            work = work.withColumn(f"__m{mi}", F.expr(fieldexpr))

    w = Window.partitionBy(*keys).orderBy(*sort_exprs(order_cols), "__seq")
    wf = w.rowsBetween(1, Window.unboundedFollowing)
    next_close = F.min(F.when(F.col("__p1"), F.col("__tsec"))).over(wf)
    timed_out = F.col("__p0") & F.coalesce(
        next_close > F.col("__tsec") + F.lit(pattern.within_seconds), F.lit(True)
    )

    measure_exprs: list[Column] = []
    for out_name, (var, kind, _fieldexpr) in measures.items():
        if kind == "timeout":
            c = (F.col("__tsec") + F.lit(pattern.within_seconds)).cast(
                types[out_name]
            )
        elif kind in ("classifier", "classifier_first"):
            c = F.lit(anchor_var).cast(types[out_name])
        elif var == close_var:
            c = F.lit(None).cast(types[out_name])  # never reached
        elif kind == "count":
            c = F.lit(1).cast(types[out_name])
        else:  # first/last/sum/avg/min/max over the single anchor row
            c = F.col(measure_cols[out_name]).cast(types[out_name])
        measure_exprs.append(c.alias(out_name))

    return (
        work.select(
            *[F.col(k) for k in keys], timed_out.alias("__to"), *measure_exprs
        )
        .filter("__to")
        .drop("__to")
        .to(schema)
    )
