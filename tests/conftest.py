from __future__ import annotations

import pytest

from osm_io_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osm-io-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    return duckdb.connect()


@pytest.fixture
def py4j_round_trips():
    """Counts py4j round trips (calls of
    ``py4j.clientserver.ClientServerConnection.send_command``, wrapped
    by jobs/stagebench.count_round_trips) from here on: returns a
    zero-argument callable giving the count so far."""
    from osm_io_spark.jobs.stagebench import count_round_trips

    with count_round_trips() as n:
        yield lambda: n[0]
