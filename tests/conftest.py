"""Shared Spark session + earthquake-shaped fixtures (FIXTURES.md)."""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
from datetime import datetime

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from global_seismic_data_pipeline_spark.schemas import BRONZE_EARTHQUAKES
from global_seismic_data_pipeline_spark.session import (
    get_spark,
    materialized_scope,
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s


@pytest.fixture(autouse=True)
def _materialized_scope():
    """Every test runs in its own scope: what it materializes is released
    when it ends, so no cached frame leaks into the next test."""
    with materialized_scope():
        yield


@pytest.fixture()
def jobs_launched(spark):
    """``with jobs_launched() as n: ...`` leaves in ``n[0]`` the number of
    Spark jobs the block launched, counted through a job group."""
    sc = spark.sparkContext
    groups = itertools.count()

    @contextlib.contextmanager
    def count():
        group = f"jobs-launched-{next(groups)}"
        out: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            out.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    return count


CLOCK = datetime(2025, 6, 1, 12, 0, 0)


def bronze_row(
    event_id,
    time,
    lat=35.0,
    lon=139.0,
    depth=30.0,
    mag=5.0,
    ingestion_ts=CLOCK,
    batch_id="b1",
    **kw,
):
    """One bronze row with sane defaults (Japan box, M5, shallow)."""
    base = {
        "event_id": event_id,
        "time": time,
        "latitude": lat,
        "longitude": lon,
        "depth": depth,
        "mag": mag,
        "mag_type": "mb",
        "nst": 10,
        "gap": 50.0,
        "dmin": 0.5,
        "rms": 0.8,
        "net": "us",
        "place": "somewhere",
        "type": "earthquake",
        "status": "reviewed",
        "horizontal_error": 1.0,
        "depth_error": 2.0,
        "mag_error": 0.1,
        "ingestion_ts": ingestion_ts,
        "ingestion_date": ingestion_ts.date(),
        "batch_id": batch_id,
    }
    base.update(kw)
    return base


@pytest.fixture(scope="session")
def bronze_fixture(spark):
    """Deterministic bronze table covering the §5 edge cases: duplicate
    event_ids across batches, box-edge coordinates, overlapping regions,
    no-region points, null mag/depth, magnitude band boundaries, depth
    clamp boundaries."""
    t = datetime
    rows = [
        # plain Japan events across 3 days
        bronze_row("jp1", t(2025, 5, 1, 1), mag=4.0, depth=10.0),
        bronze_row("jp2", t(2025, 5, 1, 2), mag=5.0, depth=70.0),   # depth cat edge
        bronze_row("jp3", t(2025, 5, 2, 3), mag=6.0, depth=300.0),  # DEEP edge
        bronze_row("jp4", t(2025, 5, 3, 4), mag=7.0, depth=69.9),   # tsunami
        # duplicate event_id, later ingestion wins (dedup W1)
        bronze_row("dup1", t(2025, 5, 1, 5), mag=4.4,
                   ingestion_ts=t(2025, 5, 1, 6), batch_id="b1"),
        bronze_row("dup1", t(2025, 5, 1, 5), mag=4.5,
                   ingestion_ts=t(2025, 5, 2, 6), batch_id="b2"),
        # tie on ingestion_ts → batch_id tiebreak (b3 > b2)
        bronze_row("dup2", t(2025, 5, 1, 7), mag=3.0,
                   ingestion_ts=t(2025, 5, 2, 6), batch_id="b2"),
        bronze_row("dup2", t(2025, 5, 1, 7), mag=3.1,
                   ingestion_ts=t(2025, 5, 2, 6), batch_id="b3"),
        # California/Mexico overlap: lat 32..33, lon -118..-114 is in both
        # boxes; California priority 1 < Mexico 7 → CALIFORNIA
        bronze_row("ovl1", t(2025, 5, 2, 8), lat=32.5, lon=-116.0, mag=5.5),
        # exact box corner (California min_lat/min_lon) — inclusive bounds
        bronze_row("edge1", t(2025, 5, 2, 9), lat=32.0, lon=-125.0, mag=4.2),
        # mid-Atlantic: matches no box → OTHER
        bronze_row("oth1", t(2025, 5, 3, 10), lat=0.0, lon=-30.0, mag=6.5),
        # null mag → default 2.5; null depth → 33.0
        bronze_row("nul1", t(2025, 5, 3, 11), mag=None, depth=None),
        # depth clamp: negative → 0, >700 → 700
        bronze_row("clp1", t(2025, 5, 3, 12), depth=-5.0, mag=2.0),
        bronze_row("clp2", t(2025, 5, 3, 13), depth=800.0, mag=8.1),
        # invalid coordinates → dropped by validation
        bronze_row("bad1", t(2025, 5, 3, 14), lat=95.0),
        bronze_row("bad2", t(2025, 5, 3, 15), lon=-190.0),
        # type synonym 'eq' → normalized to 'earthquake'
        bronze_row("typ1", t(2025, 5, 4, 1), type="EQ"),
        bronze_row("typ2", t(2025, 5, 4, 2), type=None),
    ]
    return spark.createDataFrame(rows, BRONZE_EARTHQUAKES)
