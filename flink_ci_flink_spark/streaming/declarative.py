"""Declarative decomposable-accumulator folds: register a new bounded-state
streaming monitor WITHOUT writing Python plan builders.

The 14-shape `jvm_keyed_fold` family (`streaming/process.py`) shows that a
stateful streaming operator whose state is a decomposable accumulator needs
only three Catalyst plans: prepare (batch rows -> partial state), merge
(canonicalize a union of states), emit (derive output columns). This module
accepts those three as SQL EXPRESSION STRINGS — a `FoldSpec` — so the whole
operator is declared, not coded (six of the family's shapes and the HLL and
count-min sketch merges are such declarations; their prepare and emit legs
may be DataFrame builders where the state is not one expression per column):

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
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def _exprs(leg) -> dict[str, str] | None:
    """A leg's ``name -> expr`` dict; None for a builder or a missing emit."""
    if leg is None or callable(leg):
        return None
    return dict(leg) if isinstance(leg, dict) else parse_assignments(leg)


@dataclass
class FoldSpec:
    """A declarative decomposable accumulator: grouping keys + three legs.

    Each leg is SQL expressions (a string in the `parse_assignments`
    grammar, or a pre-parsed dict). ``prepare`` and ``emit`` may instead
    be a ``DataFrame -> DataFrame`` builder, for state that is not one SQL
    expression per column (sketch registers, computed grouping keys): a
    prepare builder returns the keys and the state columns ``merge``
    declares, already grouped by the keys; an emit builder maps the state
    to the output. ``merge`` is always expressions: the one merge rule of
    the accumulator, which `merge_plan` runs and `self_check` checks."""

    keys: list[str]
    prepare: str | dict[str, str] | Callable[[DataFrame], DataFrame]
    merge: str | dict[str, str]
    emit: str | dict[str, str] | Callable[[DataFrame], DataFrame] | None = None

    prepare_exprs: dict[str, str] | None = field(init=False)
    merge_exprs: dict[str, str] = field(init=False)
    emit_exprs: dict[str, str] | None = field(init=False)

    def __post_init__(self):
        if not self.keys:
            raise ValueError("FoldSpec needs at least one grouping key")
        self.prepare_exprs = _exprs(self.prepare)
        self.merge_exprs = _exprs(self.merge)
        self.emit_exprs = _exprs(self.emit)
        if self.merge_exprs is None:
            raise ValueError("FoldSpec merge must be SQL expressions")
        if self.prepare_exprs is not None:
            self._check_state_cols(self.prepare_exprs)
            # the state keeps prepare's column order after every merge
            self.merge_exprs = {n: self.merge_exprs[n] for n in self.prepare_exprs}
        bad = set(self.keys) & set(self.merge_exprs)
        if bad:
            raise ValueError(f"state columns shadow grouping keys: {sorted(bad)}")

    def _check_state_cols(self, state_cols) -> None:
        if set(state_cols) != set(self.merge_exprs):
            raise ValueError(
                "prepare and merge must declare the SAME state columns "
                f"(prepare: {sorted(state_cols)}, "
                f"merge: {sorted(self.merge_exprs)}) — merge re-aggregates "
                "exactly the columns prepare produces"
            )

    def _agg(self, df: DataFrame, exprs: dict[str, str]) -> DataFrame:
        return df.groupBy(*self.keys).agg(
            *[F.expr(e).alias(n) for n, e in exprs.items()]
        )

    # -- the three jvm_keyed_fold plan builders, generated --

    def prepare_plan(self, batch: DataFrame) -> DataFrame:
        if self.prepare_exprs is not None:
            return self._agg(batch, self.prepare_exprs)
        prepared = self.prepare(batch)
        self._check_state_cols([c for c in prepared.columns if c not in self.keys])
        return prepared.select(*self.keys, *self.merge_exprs)

    def merge_plan(self, states: DataFrame) -> DataFrame:
        """Canonical state of a union of states: one row per key."""
        return self._agg(states, self.merge_exprs)

    def fold_plan(self, prev: DataFrame | None, cand: DataFrame) -> DataFrame:
        """``cand`` itself on the first batch (``prev is None``): a prepare
        result is already canonical, since merge(prepare(A) ∪ prepare(∅))
        == prepare(A). Otherwise the merge of ``prev ∪ cand``."""
        return cand if prev is None else self.merge_plan(prev.unionByName(cand))

    def emit_plan(self, state: DataFrame) -> DataFrame:
        if callable(self.emit):
            return self.emit(state)
        if not self.emit_exprs:
            return state
        return state.selectExpr(
            *self.keys,
            *self.merge_exprs,
            *[f"{e} AS {n}" for n, e in self.emit_exprs.items()],
        )


def self_check(spec: FoldSpec, sample: DataFrame, n_splits: int = 3) -> None:
    """Runtime validator for USER-SUPPLIED specs: runs the spec
    incrementally over ``n_splits`` deterministic hash-slices of `sample`
    and compares against the one-shot twin. Raises ValueError with the
    offending columns if the merge leg is not a true canonicalizer of
    prepare-unions (e.g. someone declared ``avg(x)`` in prepare — averages
    don't merge; carry (sum, count) and derive in emit). Run it once on a
    representative sample before deploying a new monitor."""
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
    """The batch twin: one prepare over the whole input, then emit (what
    the streaming fold must equal by the associativity contract). Used
    for parity tests and as the PTF's oracle shape."""
    return spec.emit_plan(spec.fold_plan(None, spec.prepare_plan(df)))
