from dolphinbeat_spark.streaming.pipeline import build_pipeline  # noqa: F401
