"""Session warm-up: best effort on every master, never a reason for
get_spark to fail."""
import warnings

import pytest

from bib_dedupe_spark import session


class _Context:
    def __init__(self, master, app_id):
        self.master = master
        self.applicationId = app_id


class _Session:
    """The test session, seen through a context with another master."""

    def __init__(self, spark, master):
        self._spark = spark
        self.sparkContext = _Context(master, f"{master}-app")

    def __getattr__(self, name):
        return getattr(self._spark, name)


def _spy(monkeypatch):
    calls = []
    monkeypatch.setattr(session, "_warm_compute", lambda s: calls.append("compute"))
    monkeypatch.setattr(session, "_warm_parquet", lambda s: calls.append("parquet"))
    return calls


@pytest.mark.parametrize(
    "master, steps",
    [
        ("local[4]", ["compute", "parquet"]),
        ("local", ["compute", "parquet"]),
        ("spark://cluster:7077", ["compute"]),
        ("yarn", ["compute"]),
    ],
)
def test_parquet_warmup_only_on_local_masters(spark, monkeypatch, master, steps):
    calls = _spy(monkeypatch)
    session._warm_session(_Session(spark, master))
    assert calls == steps


def test_warmup_runs_on_non_local_master(spark):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session._warm_session(_Session(spark, "spark://cluster:7077"))
    assert not [w for w in caught if "warm-up skipped" in str(w.message)]


def test_warmup_failure_is_a_warning(spark, monkeypatch):
    def boom(_):
        raise RuntimeError("executors unreachable")

    monkeypatch.setattr(session, "_warm_compute", boom)
    with pytest.warns(RuntimeWarning, match="executors unreachable"):
        session._warm_session(_Session(spark, "yarn"))


def test_get_spark_survives_failing_warmup(spark, monkeypatch):
    def boom(_):
        raise RuntimeError("driver-local path not visible to executors")

    monkeypatch.setenv("SPARK_GRAFT_WARMUP", "1")
    monkeypatch.setattr(session, "_WARMED", set())
    monkeypatch.setattr(session, "_warm_compute", boom)
    with pytest.warns(RuntimeWarning, match="driver-local path"):
        # the fixture's own settings: getOrCreate hands back the same session
        got = session.get_spark(
            app_name="bib-dedupe-spark-tests",
            master="local[4]",
            shuffle_partitions=4,
            extra_conf={
                "spark.sql.execution.arrow.maxRecordsPerBatch": "500",
                "spark.driver.memory": "4g",
            },
        )
    assert got is spark
