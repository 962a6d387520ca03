"""Structured Streaming surface: sources, watermark, stateful operator kit."""

from flink_ci_flink_spark.streaming.core import (  # noqa: F401
    file_stream,
    rate_stream,
    replay_stream,
    run_to_completion,
    scratch_dir,
    socket_stream,
    stage_ordered_replay,
    with_watermark,
)
from flink_ci_flink_spark.streaming.changelog import (  # noqa: F401
    changelog_group_agg,
    changelog_to_table,
)
from flink_ci_flink_spark.streaming.process import (  # noqa: F401
    keyed_process,
    streaming_top_n,
)
from flink_ci_flink_spark.streaming.windows_ext import (  # noqa: F401
    count_tumbling_window,
    streaming_running_agg,
)
from flink_ci_flink_spark.streaming.datastream import DataStream  # noqa: F401
from flink_ci_flink_spark.streaming.late import side_output_late_data  # noqa: F401
