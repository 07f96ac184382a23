from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from etl_stream_spark.session import get_spark

    spark = get_spark(app_name="etl_stream_spark_tests", shuffle_partitions=4)
    yield spark


class _CatalogFrames:
    """Lazily-built catalog entries, one DataFrame per entry.

    Call with an entry name for its DataFrame; read ``df.schema`` or
    the analyzed plan freely. The physical plan goes through
    :meth:`physical`, which allows one force per entry: QueryExecution
    caches ``executedPlan``, so a second physical consumer under
    different session confs (AQE toggles) would silently read the first
    one's plan."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._frames: dict = {}
        self._forced: set[str] = set()

    def __call__(self, name: str):
        if name not in self._frames:
            from etl_stream_spark.catalog import CATALOG

            self._frames[name] = CATALOG[name].fn(self._spark, SF_SMOKE)
        return self._frames[name]

    def physical(self, name: str) -> str:
        """The executed plan of ``name``, as a string."""
        if name in self._forced:
            raise AssertionError(
                f"{name}: the shared frame's physical plan was already forced; "
                "a second physical consumer must build its own frame"
            )
        self._forced.add(name)
        return self(name)._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def catalog_frames(spark):
    """Session-shared, lazily-built sf0.001 catalog entries. Four
    whole-catalog sweeps (boundary types, broadcast hints, global
    windows, cartesian products) each called every entry's ``fn`` —
    four full constructions of ~190 entries, ~10 min of the suite's
    wall on a degraded box. Entry fns are pure constructions (scratch
    side effects are per-(tag,pid) overwrite-idempotent), so ONE
    DataFrame per entry serves every sweep. At most one consumer may
    force the PHYSICAL plan, through ``catalog_frames.physical``, which
    raises on a second force. Today that one physical consumer is the
    cartesian sweep; the AQE-off ceiling suite deliberately builds its
    own frames."""
    return _CatalogFrames(spark)
