"""Session defaults that the engine relies on."""


def test_session_disables_python_call_site_capture(spark):
    # per-call Python call-site capture costs py4j round trips on every
    # DataFrame/Column call of the driver-side apply
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
