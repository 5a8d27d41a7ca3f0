"""`session.get_spark` defaults that change cost, not results."""


def test_get_spark_turns_off_dataframe_debugging(spark):
    # PySpark's per-call call-site capture (two extra py4j round trips
    # per functions.* call) stays off in the engine's sessions
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() is False
