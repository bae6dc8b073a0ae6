"""Session confs: one definition shared by ``get_spark`` and the driver
contract's ``_configure``, and the call-site-capture trade."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# confs only a session builder can set; _configure cannot reach them
STATIC = {
    "spark.app.name",
    "spark.master",
    "spark.driver.memory",
    "spark.ui.enabled",
    "spark.python.sql.dataFrameDebugging.enabled",
}


class _RecordingConf:
    def __init__(self):
        self.values = {}

    def set(self, key, value):
        self.values[key] = value


class _DriverSession:
    """Stands in for a driver-provided session: records conf.set."""

    def __init__(self):
        self.conf = _RecordingConf()


def test_configure_sets_every_runtime_conf_get_spark_sets(monkeypatch):
    import __spark_entry__
    from feature_store_spark.session import get_spark

    built = {}

    def capture(builder):
        built.update(builder._options)

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark("conf-probe")
    runtime = {k: v for k, v in built.items() if k not in STATIC}
    assert "spark.sql.execution.pandas.convertToArrowArraySafely" in runtime

    driver = _DriverSession()
    __spark_entry__._configure(driver)
    assert driver.conf.values == runtime


def test_call_site_capture_off_keeps_analysis_errors(spark):
    """get_spark turns PySpark's per-call call-site capture off; an
    unresolved column still raises AnalysisException with its error
    class (only the Python file:line leaves the Spark message)."""
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select("no_such_column").collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN.")
