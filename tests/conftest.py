import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession

from fdi_flow_spark.core.session import get_spark


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark(app_name="fdi_flow_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def restored_conf(spark):
    """Snapshot the shared session's SQL conf and put it back afterwards.

    ``get_spark`` on a live session re-applies its builder options to it
    (PySpark's ``getOrCreate``), so a test that calls it would otherwise
    leave, say, 32 shuffle partitions behind for every later test file.
    The JVM conf is restored directly because ``getOrCreate`` also writes
    keys (``spark.app.name``, ...) that ``spark.conf.set`` refuses."""
    before = spark.conf.getAll
    yield spark
    jconf = spark._jsparkSession.sessionState().conf()
    after = spark.conf.getAll
    for k in after.keys() - before.keys():
        jconf.unsetConf(k)
    for k, v in before.items():
        if after.get(k) != v:
            jconf.setConfString(k, v)
    assert spark.conf.getAll == before


def make_long(spark: SparkSession, series: dict[str, np.ndarray]):
    """Build a long-format (series_id, ts, value) frame from numpy arrays."""
    rows = []
    for sid, arr in series.items():
        for i, v in enumerate(np.asarray(arr, dtype=np.float64)):
            rows.append((sid, i, float(v)))
    return spark.createDataFrame(rows, schema="series_id string, ts long, value double")


def collect_series(df) -> dict[str, np.ndarray]:
    """Collect a long frame back to {series_id: values ordered by ts}."""
    pdf = df.toPandas().sort_values(["series_id", "ts"])
    return {
        sid: g["value"].to_numpy(dtype=np.float64)
        for sid, g in pdf.groupby("series_id")
    }


@pytest.fixture()
def two_series(spark):
    """Notebook-parity fixture: 3*sin(t)+noise and 2*t+noise, 120 points."""
    rng = np.random.default_rng(42)
    t = np.linspace(0, 10, 120)
    return make_long(
        spark,
        {
            "s1": 3 * np.sin(t) + rng.normal(0, 0.5, t.size),
            "s2": 2 * t + rng.normal(0, 0.5, t.size),
        },
    )
