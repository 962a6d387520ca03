"""Declarative decomposable-accumulator folds: register a new bounded-state
streaming monitor WITHOUT writing Python plan builders.

The 16-shape `jvm_keyed_fold` family (`streaming/process.py`) shows that a
stateful streaming operator whose state is a decomposable accumulator needs
only three Catalyst plans: prepare (batch rows -> partial state), merge
(canonicalize a union of states), emit (derive output columns). This module
accepts those three as SQL EXPRESSION STRINGS — a `FoldSpec` — so the whole
operator is declared, not coded:

    spec = FoldSpec(
        keys=["user_id"],
        prepare="n := count(1); total := sum(value); vmax := max(value)",
        merge="n := sum(n); total := sum(total); vmax := max(vmax)",
        emit="avg_cents := CAST(floor(total * 100 / n + 0.5) AS BIGINT)",
    )
    declarative_keyed_fold(stream, spec, state_dir=...)

Correctness contract (the user's obligation, the same one every fold shape
meets): `merge` must canonicalize a UNION of partial states produced by
`prepare` — i.e. for every state column, merge(prepare(A) ∪ prepare(B)) ==
prepare(A ∪ B). sum/sum, count/sum, max/max, min/min, bitwise or/or, and
any composition of them qualify; avg must be carried as (sum, count) and
derived in `emit`. Given that, batching-insensitivity and replay
idempotency come from `jvm_keyed_fold`'s batch_id-versioned state for free.

Reference analogue: the accumulate/merge/emit contract of
`GroupAggFunction.java` and the DataStream `AggregateFunction`
(add/merge/getResult) — here each leg is one SQL expression, executed as a
JVM Catalyst plan (no per-key Python anywhere).

The SQL front door (`pipeline/sql.py::keyed_fold`) exposes the same spec
as a polymorphic table function:

    SELECT * FROM TABLE(keyed_fold(
        TABLE events, keys => 'user_id', order_by => 'ts',
        prepare => 'n := count(1); total := sum(value)',
        merge => 'n := sum(n); total := sum(total)'))
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def parse_assignments(spec: str) -> dict[str, str]:
    """Parse ``'name := expr; name2 := expr2'`` into an ordered dict.

    `;` separates assignments (quoted strings may not contain `;` — the
    fold surface has no need for them), `:=` binds a column name to a SQL
    expression."""
    out: dict[str, str] = {}
    for part in spec.split(";"):
        part = part.strip()
        if not part:
            continue
        m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*:=\s*(.+)$", part, re.S)
        if not m:
            raise ValueError(
                f"bad fold assignment {part!r} (want 'name := sql_expr')"
            )
        name, expr = m.group(1), m.group(2).strip()
        if name in out:
            raise ValueError(f"duplicate fold column {name!r}")
        out[name] = expr
    if not out:
        raise ValueError("empty fold spec")
    return out


@dataclass
class FoldSpec:
    """A declarative decomposable accumulator: grouping keys + three legs
    of SQL expressions (strings in the `parse_assignments` grammar, or
    pre-parsed dicts)."""

    keys: list[str]
    prepare: str | dict[str, str]
    merge: str | dict[str, str]
    emit: str | dict[str, str] | None = None

    prepare_exprs: dict[str, str] = field(init=False)
    merge_exprs: dict[str, str] = field(init=False)
    emit_exprs: dict[str, str] | None = field(init=False)

    def __post_init__(self):
        if not self.keys:
            raise ValueError("FoldSpec needs at least one grouping key")
        self.prepare_exprs = (
            dict(self.prepare)
            if isinstance(self.prepare, dict)
            else parse_assignments(self.prepare)
        )
        self.merge_exprs = (
            dict(self.merge)
            if isinstance(self.merge, dict)
            else parse_assignments(self.merge)
        )
        self.emit_exprs = (
            None
            if self.emit is None
            else dict(self.emit)
            if isinstance(self.emit, dict)
            else parse_assignments(self.emit)
        )
        if set(self.prepare_exprs) != set(self.merge_exprs):
            raise ValueError(
                "prepare and merge must declare the SAME state columns "
                f"(prepare: {sorted(self.prepare_exprs)}, "
                f"merge: {sorted(self.merge_exprs)}) — merge re-aggregates "
                "exactly the columns prepare produces"
            )
        bad = set(self.keys) & set(self.prepare_exprs)
        if bad:
            raise ValueError(f"state columns shadow grouping keys: {sorted(bad)}")

    # -- the three jvm_keyed_fold plan builders, generated --

    def prepare_plan(self, batch: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        return batch.groupBy(*self.keys).agg(
            *[F.expr(e).alias(n) for n, e in self.prepare_exprs.items()]
        )

    def fold_plan(self, prev: DataFrame | None, cand: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        u = prev.unionByName(cand) if prev is not None else cand
        return u.groupBy(*self.keys).agg(
            *[F.expr(e).alias(n) for n, e in self.merge_exprs.items()]
        )

    def emit_plan(self, state: DataFrame) -> DataFrame:
        if not self.emit_exprs:
            return state
        cols = [*self.keys, *self.prepare_exprs]
        return state.selectExpr(
            *cols, *[f"{e} AS {n}" for n, e in self.emit_exprs.items()]
        )


def self_check(spec: FoldSpec, sample: DataFrame, n_splits: int = 3) -> None:
    """Runtime validator for USER-SUPPLIED specs: runs the spec
    incrementally over ``n_splits`` deterministic hash-slices of `sample`
    and compares against the one-shot twin. Raises ValueError with the
    offending columns if the merge leg is not a true canonicalizer of
    prepare-unions (e.g. someone declared ``avg(x)`` in prepare — averages
    don't merge; carry (sum, count) and derive in emit). Run it once on a
    representative sample before deploying a new monitor."""
    import pyspark.sql.functions as F

    slices = [
        sample.filter(F.crc32(F.concat_ws("\x1f", *sample.columns)) % n_splits == i)
        for i in range(n_splits)
    ]
    state = None
    for sl in slices:
        state = spec.fold_plan(state, spec.prepare_plan(sl))
    got = sorted(map(tuple, spec.emit_plan(state).collect()))
    want = sorted(map(tuple, declarative_fold_batch(sample, spec).collect()))
    if got != want:
        diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
        raise ValueError(
            "FoldSpec failed the batching-insensitivity self-check: "
            "incremental fold over split batches != one-shot aggregate "
            f"(first diffs: {diff}). The merge leg must canonicalize a "
            "UNION of prepare outputs (sum/sum, count->sum, max/max, "
            "min/min compose; avg must be carried as sum+count)."
        )


def declarative_keyed_fold(
    stream: DataFrame,
    spec: FoldSpec,
    state_dir: str | None = None,
) -> DataFrame:
    """Run a `FoldSpec` as a streaming keyed fold on `jvm_keyed_fold`:
    per-key bounded state (one row per key), batch_id-versioned parquet,
    replay-idempotent, zero per-key Python. Returns the final emitted
    state as a batch DataFrame."""
    from flink_ci_flink_spark.streaming.process import jvm_keyed_fold

    return jvm_keyed_fold(
        stream,
        prepare=spec.prepare_plan,
        fold=spec.fold_plan,
        state_dir=state_dir,
        emit=lambda state, closed: spec.emit_plan(state),
    )


def declarative_fold_batch(df: DataFrame, spec: FoldSpec) -> DataFrame:
    """The batch twin: prepare+merge collapse to one aggregation (what the
    streaming fold must equal by the associativity contract). Used for
    parity tests and as the PTF's oracle shape."""
    return spec.emit_plan(spec.fold_plan(None, spec.prepare_plan(df)))
