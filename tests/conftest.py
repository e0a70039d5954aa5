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
