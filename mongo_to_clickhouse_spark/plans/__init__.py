from mongo_to_clickhouse_spark.plans.pipeline import (  # noqa: F401
    anonymized_statements,
    cdc_transform,
    optout_active,
    optout_dim,
    route,
    statements_from_events,
)
