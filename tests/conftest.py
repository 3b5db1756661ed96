from __future__ import annotations

import pytest

from coltt_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="coltt_spark_tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


class InjectedWriteFailure(RuntimeError):
    pass


def fail_at_parquet_write(monkeypatch, k: int, *, after: bool = False) -> None:
    """Make the ``k``-th ``DataFrameWriter.parquet`` call from now on
    raise, once: before it writes anything or, with ``after``, once it
    has written — a crash between two writes of one operation."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet
    calls = [0]

    def flaky(self, *args, **kwargs):
        calls[0] += 1
        if calls[0] != k:
            return real(self, *args, **kwargs)
        if after:
            real(self, *args, **kwargs)
        raise InjectedWriteFailure(f"parquet write {k} failed")

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky)
