from cassandra_util_spark.streaming.events import (
    continuous_rollup,
    stream_events,
    streaming_dedup,
    streaming_retention,
    windowed_rollup,
)
from cassandra_util_spark.streaming.corpus import (
    stream_corpus_ingest,
    stream_encode,
    stream_windows,
)
from cassandra_util_spark.streaming.dedup import (
    stream_lsh_index,
    stream_token_span_index,
)
from cassandra_util_spark.streaming.ingest import (
    applied_batch_hwm,
    applied_txn_app_id,
    resolve_txn_app_id,
    stream_counter_deltas,
    stream_to_runstore,
)
from cassandra_util_spark.streaming.sketches import (
    stream_count_min_to_store,
)

__all__ = [
    "applied_batch_hwm",
    "applied_txn_app_id",
    "continuous_rollup",
    "resolve_txn_app_id",
    "stream_corpus_ingest",
    "stream_encode",
    "stream_windows",
    "stream_count_min_to_store",
    "stream_counter_deltas",
    "stream_events",
    "stream_lsh_index",
    "stream_to_runstore",
    "stream_token_span_index",
    "streaming_dedup",
    "streaming_retention",
    "windowed_rollup",
]
