"""Session stores: build a shared upstream once per Spark session.

The engine shares expensive upstream relations (shingle explodes,
MinHash signatures, candidate-pair graphs, fitted models, PQ indexes)
across the queries of a family — the write-once economics of a
production pipeline, where those artifacts are materialized tables.
The smallest store is table metadata: ``sources/batch.py::
_table_schemas`` holds each table file's inferred parquet schema and
footer layout, so ``load_table`` runs Spark's schema-inference job once
per table file per session instead of once per table reference.
``@session_store`` is the one mechanism for that sharing. Its contract:

* **Builder.** The decorated function is a plain builder
  ``f(spark, sf_dir)``: it reads everything it depends on from those
  two arguments, so ``(session, sf_dir)`` fully determines its result.
* **Key.** ``(spark.sparkContext.applicationId, sf_dir, builder module
  + qualname)``. applicationId is stable and unique per SparkContext
  lifetime (``id(spark)`` can be reused by a new session allocated at a
  dead session's address).
* **Lifetime.** On a miss the builder runs once and every later call
  returns the same object. All stores live in one dict; when a
  different applicationId first touches it, every entry of the old
  session is dropped, so no stopped session's frames (whose
  localCheckpoint blocks are gone with its context) are handed out or
  kept alive.
* **Off switch = reference path.** ``SPARK_GRAFT_STORES=off`` calls the
  builder on every call and stores nothing — the exact same
  construction, never memoised. tests/test_store_gate.py asserts
  row-identity between the two paths for a representative consumer of
  every store; a bench or oracle run with the switch off pays every
  build on every execution. The switch is read per call, not at
  import, so tests can flip it with monkeypatch.
* **Materialization belongs to the builder.** Each builder chooses
  ``localCheckpoint(eager=True)`` (collapse a large lineage to a leaf
  that every consumer plans against) or ``persist()`` itself and says
  why; the decorator only memoises the returned object.
"""

from __future__ import annotations

import functools
import os

_STORES: dict[tuple, object] = {}


def stores_enabled() -> bool:
    """True unless SPARK_GRAFT_STORES is off/0/false (case-insensitive)."""
    return os.environ.get("SPARK_GRAFT_STORES", "on").strip().lower() not in (
        "off",
        "0",
        "false",
    )


def session_store(builder):
    """Memoise ``builder(spark, sf_dir)`` per session and sf_dir (see the
    module docstring for the contract)."""
    name = f"{builder.__module__}.{builder.__qualname__}"

    @functools.wraps(builder)
    def get(spark, sf_dir: str):
        if not stores_enabled():
            return builder(spark, sf_dir)
        app = spark.sparkContext.applicationId
        # every entry shares one applicationId, so the first key speaks
        # for all of them
        if _STORES and next(iter(_STORES))[0] != app:
            _STORES.clear()
        key = (app, sf_dir, name)
        if key not in _STORES:
            _STORES[key] = builder(spark, sf_dir)
        return _STORES[key]

    return get
