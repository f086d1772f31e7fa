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


# Runtime confs that ``get_spark`` resolves per call, so calling it on the
# live test session would change them for every later test.
SESSION_CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
)


@pytest.fixture()
def restore_session_conf(spark):
    """Put back the shared session's ``SESSION_CONF_KEYS`` after the test,
    unsetting those that were unset before it."""
    saved = {k: spark.conf.get(k, None) for k in SESSION_CONF_KEYS}
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


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
