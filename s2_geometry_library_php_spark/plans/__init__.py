from .session import default_cores, get_spark, stop_spark  # noqa: F401
