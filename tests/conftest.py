from __future__ import annotations

import pytest

from investcloud_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def distributed_fit(monkeypatch):
    """Route every k-means fit above the driver-fit guard (Spark ML
    KMeans), the path a corpus larger than ``DRIVER_FIT_BYTES`` takes;
    stores are off so no driver-fitted store serves the test."""
    from investcloud_data_pipeline_spark.functions import vectors

    monkeypatch.setattr(vectors, "DRIVER_FIT_BYTES", 0)
    monkeypatch.setenv("SPARK_GRAFT_STORES", "off")


def nearest_cells(centers, vectors):
    """The ``assign_cells`` argmin in numpy: index of the nearest center
    per vector, ties to the smallest index."""
    import numpy as np

    c = np.asarray(centers, dtype=np.float64)
    x = np.asarray(vectors, dtype=np.float64)
    return ((c * c).sum(1)[None, :] - 2.0 * (x @ c.T)).argmin(1)


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh Spark job group; return its result and
    the number of Spark jobs it ran (read from the status tracker once
    the listener bus has drained)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def gold_rows(df):
    """A gold snapshot (or ``user_argmax_totals`` frame) as sorted rows."""
    return sorted(
        (
            r.user_id,
            round(r.total_watch_time, 6),
            r.geo_region,
            round(r.top_region_watch_time, 6),
        )
        for r in df.collect()
    )


def in_horizon_wave(raw_dir: str, name: str, rows: int, seed: int) -> set[str]:
    """Write one raw activity file of new log_ids whose event times follow
    every generated wave's (datagen's ``ANCHOR`` onwards), so silver's
    watermark admits them; returns the file's log_ids."""
    import os
    from datetime import timedelta

    from investcloud_data_pipeline_spark.datagen import ANCHOR, make_activity_frame

    df = make_activity_frame(rows, seed=seed)
    df["timestamp"] = [(ANCHOR + timedelta(minutes=i)).isoformat() for i in range(rows)]
    df.to_parquet(os.path.join(raw_dir, name), index=False)
    return set(df["log_id"])
