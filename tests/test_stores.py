"""Unit tests for the ``session_store`` decorator — no Spark: the
decorator reads only ``spark.sparkContext.applicationId``, so a fake
session object stands in."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from investcloud_data_pipeline_spark import stores


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def _isolated(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STORES", raising=False)
    monkeypatch.setattr(stores, "_STORES", {})


def _counting_builder():
    calls = []

    @stores.session_store
    def build(spark, sf_dir):
        calls.append((spark.sparkContext.applicationId, sf_dir))
        return object()

    return build, calls


def test_second_call_returns_same_object_and_builds_once():
    build, calls = _counting_builder()
    s = _session("app-1")
    first = build(s, "/sf")
    assert build(s, "/sf") is first
    assert calls == [("app-1", "/sf")]


def test_different_sf_dir_builds_again():
    build, calls = _counting_builder()
    s = _session("app-1")
    a, b = build(s, "/sf-a"), build(s, "/sf-b")
    assert a is not b
    assert build(s, "/sf-a") is a
    assert calls == [("app-1", "/sf-a"), ("app-1", "/sf-b")]


def test_builders_with_one_sf_dir_do_not_share_entries():
    @stores.session_store
    def build_a(spark, sf_dir):
        return object()

    @stores.session_store
    def build_b(spark, sf_dir):
        return object()

    s = _session("app-1")
    assert build_a(s, "/sf") is not build_b(s, "/sf")
    assert len(stores._STORES) == 2


def test_switch_off_builds_every_call_and_stores_nothing(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STORES", "off")
    build, calls = _counting_builder()
    s = _session("app-1")
    assert build(s, "/sf") is not build(s, "/sf")
    assert len(calls) == 2
    assert stores._STORES == {}


def test_new_application_id_drops_old_session_entries():
    build, calls = _counting_builder()
    old = build(_session("app-1"), "/sf")
    build(_session("app-1"), "/sf-other")
    fresh = build(_session("app-2"), "/sf")
    assert fresh is not old
    assert [k[:2] for k in stores._STORES] == [("app-2", "/sf")]
    assert len(calls) == 3


def test_builder_that_raises_stores_nothing():
    attempts = []

    @stores.session_store
    def flaky(spark, sf_dir):
        attempts.append(sf_dir)
        if len(attempts) == 1:
            raise RuntimeError("build failed")
        return "ok"

    s = _session("app-1")
    with pytest.raises(RuntimeError):
        flaky(s, "/sf")
    assert stores._STORES == {}
    assert flaky(s, "/sf") == "ok"
    assert len(attempts) == 2


def test_key_names_the_builder():
    build, _ = _counting_builder()
    build(_session("app-1"), "/sf")
    (key,) = stores._STORES
    assert key[2] == f"{__name__}._counting_builder.<locals>.build"
