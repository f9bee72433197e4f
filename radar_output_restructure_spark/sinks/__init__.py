from radar_output_restructure_spark.sinks.writers import write_output_tree_direct  # noqa: F401
