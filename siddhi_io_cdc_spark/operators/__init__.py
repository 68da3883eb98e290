from siddhi_io_cdc_spark.operators.flatten import (
    flatten,
    lowercase_columns,
    schema_map,
    type_default,
)
from siddhi_io_cdc_spark.operators.cep import (
    absent_pattern,
    both_pattern,
    consecutive_runs,
    immediate_sequence,
    match_runs,
    or_pattern,
)
from siddhi_io_cdc_spark.operators.mongo import MONGO_ENVELOPE_SCHEMA, mongo_flatten
from siddhi_io_cdc_spark.operators.rate_limit import (
    every_nth_per_key,
    frequent_items,
    lossy_frequent_items,
    snapshot_per_window,
)
from siddhi_io_cdc_spark.operators.history import (
    changelog_history,
    foreach_batch_history,
    merge_history_into_parquet,
    temporal_lookup,
)
from siddhi_io_cdc_spark.operators.temporal import asof_join, bucketed_range_join
from siddhi_io_cdc_spark.operators.mutate import (
    apply_changelog,
    delete_on,
    evolve_target_schema,
    foreach_batch_merge,
    insert_into,
    merge_into_bucketed_parquet,
    merge_into_delta,
    read_bucketed_store,
    update_on,
)

__all__ = [
    "absent_pattern",
    "asof_join",
    "both_pattern",
    "bucketed_range_join",
    "changelog_history",
    "foreach_batch_history",
    "merge_history_into_parquet",
    "temporal_lookup",
    "consecutive_runs",
    "immediate_sequence",
    "match_runs",
    "or_pattern",
    "every_nth_per_key",
    "frequent_items",
    "lossy_frequent_items",
    "snapshot_per_window",
    "flatten",
    "lowercase_columns",
    "schema_map",
    "type_default",
    "MONGO_ENVELOPE_SCHEMA",
    "mongo_flatten",
    "apply_changelog",
    "delete_on",
    "evolve_target_schema",
    "insert_into",
    "merge_into_bucketed_parquet",
    "merge_into_delta",
    "read_bucketed_store",
    "foreach_batch_merge",
    "update_on",
]
