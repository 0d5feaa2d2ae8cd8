"""The benchmark's workloads: the registry keys one run submits, in the
order a pass starts from before the seed permutes it. README.md says
why each set was chosen."""

from __future__ import annotations

WORKLOADS = {
    # relational daily batch: light builders, time in scheduling,
    # shuffle and executors
    "etl_daily": (
        "agg_groupby_multi join_broadcast_chain join_asof win_topk_per_group "
        "agg_pivot topk_limit agg_count_distinct filter_compound "
        "join_bucketed_colocated pipeline_shipping_priority "
        "pipeline_regional_volume pipeline_token_budget_curriculum "
        "evt_session_window evt_token_bucket_admission"
    ).split(),
    # parquet writes inside the builders plus a small read-back
    "etl_load": (
        "sink_parquet_partitioned sink_idempotent_overwrite sink_parquet_zstd "
        "sink_compact_small_files sink_dynamic_partition_overwrite "
        "sink_range_sorted_layout merge_upsert_daily pipeline_cdc_apply"
    ).split(),
}
