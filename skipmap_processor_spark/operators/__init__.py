from skipmap_processor_spark.operators.dedup import prepare_actions  # noqa: F401
