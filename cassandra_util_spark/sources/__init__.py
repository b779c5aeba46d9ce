from cassandra_util_spark.sources.bucketed import (
    colocated_join,
    join_is_colocated,
    selected_buckets,
    write_bucketed,
)
from cassandra_util_spark.sources.ivf_index import probe_ivf_index, write_ivf_index
from cassandra_util_spark.sources.runs import RunStore, size_tiered_plan
from cassandra_util_spark.sources.snapshots import SnapshotStore
from cassandra_util_spark.sources.tokenizer import read_tokenizer, write_tokenizer

__all__ = [
    "SnapshotStore",
    "RunStore",
    "size_tiered_plan",
    "write_ivf_index",
    "probe_ivf_index",
    "write_tokenizer",
    "read_tokenizer",
    "colocated_join",
    "join_is_colocated",
    "selected_buckets",
    "write_bucketed",
]
