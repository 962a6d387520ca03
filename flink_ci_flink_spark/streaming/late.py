"""Exact late-data side output for streaming windows.

Reference: `WindowedStream.java:158` (allowedLateness) / `:177`
(sideOutputLateData) and the window operator's late-element routing
(`WindowOperator.java` isElementLate → side output), plus the Blink
planner's emit strategies (`WindowEmitStrategy.scala:33-66`).

Structured Streaming silently DROPS rows behind the watermark; the
previously-documented approximation widened the watermark delay. This
module closes the gap exactly the way VERDICT.md prescribes: one
foreachBatch query that (a) maintains the watermark with Flink's own
definition — max observed event time minus the out-of-orderness bound,
advanced at micro-batch boundaries, so routing matches what Spark's own
aggregation would drop — and (b) splits every micro-batch into on-time
rows (handed to the main sink) and late rows (handed to the late sink,
never silently lost).

Lateness tests mirror the reference exactly:
- row-level (ProcessFunction side outputs): ts <= watermark;
- window-level (`sideOutputLateData`): window_end + allowed_lateness <=
  watermark — a row whose window is still open is NOT late even when its
  own timestamp is behind the watermark.

Scale: the only driver-side work per batch is one global max(ts) — a
single-number agg, the same thing Spark's watermark tracker computes; the
split itself is two JVM filters over the batch. State is one scalar.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ci_flink_spark.streaming.core import drain_foreach_batch


class LateDataSplitter:
    """foreachBatch handler routing late rows to a side sink.

    ``main_sink(df, batch_id)`` receives on-time rows, ``late_sink`` the
    late ones. ``window_seconds=None`` uses row-level lateness (ts <=
    watermark); otherwise window-level (tumbling window end +
    allowed_lateness <= watermark). ``ts_col`` may be numeric epoch
    seconds or a timestamp column."""

    def __init__(
        self,
        ts_col: str,
        delay_seconds: float,
        main_sink,
        late_sink,
        window_seconds: float | None = None,
        allowed_lateness: float = 0.0,
    ):
        self.ts_col = ts_col
        self.delay = delay_seconds
        self.main_sink = main_sink
        self.late_sink = late_sink
        self.window_seconds = window_seconds
        self.allowed_lateness = allowed_lateness
        self.watermark = None  # max event time seen - delay (Flink definition)

    def _late_cond(self, batch_df: DataFrame):
        wm = self.watermark
        ts = F.col(self.ts_col)
        numeric = dict(batch_df.dtypes)[self.ts_col] not in (
            "timestamp",
            "timestamp_ntz",
        )
        if self.window_seconds is None:
            return ts <= F.lit(wm)
        if numeric:
            wend = (F.floor(ts / self.window_seconds) + 1) * F.lit(
                float(self.window_seconds)
            )
            return (wend + F.lit(self.allowed_lateness)) <= F.lit(wm)
        wend = F.window(ts, f"{int(self.window_seconds)} seconds").end
        bound = wm - _dt.timedelta(seconds=self.allowed_lateness)
        return wend <= F.lit(bound)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if self.watermark is None:
                ontime, late = batch_df, batch_df.limit(0)
            else:
                cond = self._late_cond(batch_df)
                ontime, late = batch_df.filter(~cond), batch_df.filter(cond)
            self.main_sink(ontime, batch_id)
            self.late_sink(late, batch_id)
            mx = batch_df.agg(F.max(self.ts_col)).first()[0]
            if mx is not None:
                new_wm = (
                    mx - _dt.timedelta(seconds=self.delay)
                    if isinstance(mx, _dt.datetime)
                    else float(mx) - self.delay
                )
                self.watermark = (
                    new_wm if self.watermark is None else max(self.watermark, new_wm)
                )
        finally:
            batch_df.unpersist()


def side_output_late_data(
    stream: DataFrame,
    ts_col: str,
    delay_seconds: float,
    main_sink,
    late_sink,
    checkpoint: str,
    window_seconds: float | None = None,
    allowed_lateness: float = 0.0,
) -> None:
    """Drain ``stream`` through the splitter (`sideOutputLateData` +
    `allowedLateness` analog)."""
    handler = LateDataSplitter(
        ts_col, delay_seconds, main_sink, late_sink, window_seconds, allowed_lateness
    )
    drain_foreach_batch(stream, handler, checkpoint)
