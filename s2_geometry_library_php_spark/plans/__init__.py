from .session import default_cores, get_spark, local_relation, stop_spark  # noqa: F401
