from mapreducewordcount_spark.streaming.jobs import (  # noqa: F401
    start_cms_heavy_hitters,
    start_source_drift_monitor,
    stream_hourly_events,
    stream_quality_filter,
    stream_session_windows,
    stream_simhash_dedup,
    stream_source_token_budget,
    stream_cms_cells,
    stream_event_transitions,
    stream_hll_registers,
    stream_user_running_totals,
    stream_word_counts,
)
