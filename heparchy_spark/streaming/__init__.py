"""Structured Streaming surface (SURVEY.md §2.10).

The reference's only streaming construct is the ingest generator
``event_iter`` (``/root/reference/heparchy/write/hdf.py:493-516``) —
an unbounded producer committed incrementally. Here that becomes
``readStream -> transform -> writeStream`` with event-time semantics the
reference never had: watermarks, tumbling/sliding/session windows,
in-stream dedup, and custom stateful operators.

Every transformation is expressed on a DataFrame so the SAME function works
in batch and streaming mode (the batch twins in
``heparchy_spark.queries.streaming_like`` are the DuckDB-oracle-checked
versions of these).
"""

from heparchy_spark.streaming.analytics import (
    dedup_within_watermark,
    purchase_view_join,
    running_user_totals,
    sessionize,
    streaming_count_min,
    streaming_frequent_items,
    rate_limit_batch,
    group_sample_batch,
    streaming_group_sample,
    streaming_funnel,
    streaming_rate_limit,
    streaming_scd2,
    windowed_token_counts,
    tumbling_counts,
)
from heparchy_spark.streaming.pipeline import (
    corpus_gates,
    stream_corpus_pipeline,
    streaming_domain_cap_ingest,
    streaming_ivf_ingest,
    streaming_url_dedup_ingest,
)
from heparchy_spark.streaming.ingest import (
    EVENT_STREAM_SCHEMA,
    read_event_stream,
    stream_to_store,
)

__all__ = [
    "EVENT_STREAM_SCHEMA",
    "corpus_gates",
    "stream_corpus_pipeline",
    "streaming_domain_cap_ingest",
    "streaming_ivf_ingest",
    "streaming_url_dedup_ingest",
    "streaming_count_min",
    "streaming_frequent_items",
    "streaming_funnel",
    "streaming_rate_limit",
    "rate_limit_batch",
    "group_sample_batch",
    "streaming_group_sample",
    "streaming_scd2",
    "windowed_token_counts",
    "read_event_stream",
    "stream_to_store",
    "tumbling_counts",
    "sessionize",
    "dedup_within_watermark",
    "running_user_totals",
    "purchase_view_join",
]
