"""Structured Streaming layer (reference §2.9).

Watermarked event-time processing over micro-batches: windows, dedup,
stream-stream interval joins, stateful keyed operators.

The reference's streaming machinery maps as follows (SURVEY §2.9):
watermark strategies → ``withWatermark``; window assigners → ``window()`` /
``session_window()``; keyed state + timers → ``applyInPandasWithState``
(GroupState, one event-time timer per key; state TTL is expire-on-read
against the batch's processing time, see ``keyed_running_agg``);
checkpointing → ``checkpointLocation`` with the RocksDB state-store provider (the fork's pluggable-state-backend intent,
SURVEY §0, is Spark's ``spark.sql.streaming.stateStore.providerClass``).
"""

from flink_psl_spark.streaming.core import (  # noqa: F401
    stream_from_parquet,
    run_to_memory_table,
    streaming_tumble_agg,
    streaming_dedup,
    streaming_interval_join,
    late_data_split,
)
from flink_psl_spark.streaming.stateful import (  # noqa: F401
    connect_keyed,
    keyed_count_window,
    keyed_running_agg,
    keyed_top_n,
    streaming_rows_over,
    streaming_range_over,
    streaming_event_time_sort,
    stream_ewma_anomaly,
    stream_sft_loss_mask,
    stream_gap_fill,
    timer_session_agg,
    session_transcripts,
)
