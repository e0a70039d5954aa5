"""Change-data-capture application: MERGE upsert and SCD Type 2.

The lakehouse counterpart of the reference's Delta `MERGE` surface
(SURVEY §2.13 notes the reference leans on Delta for upserts), rebuilt
as pure DataFrame algebra so it runs on plain parquet:

* ``apply_cdc`` — apply a keyed change batch (upserts + deletes) to a
  base snapshot: Delta's ``MERGE INTO ... WHEN MATCHED UPDATE / DELETE
  WHEN NOT MATCHED INSERT`` for the common CDC case.
* ``scd2_history`` — collapse a keyed, ordered change stream into
  Type-2 dimension history rows (valid_from / valid_to / is_current).

Scale notes: ``apply_cdc`` is one shuffle on the merge key each side —
with the base table bucketed by key (operators/scale.py::write_bucketed)
the base side's exchange disappears and the merge is a co-located join.
Change batches are typically ≪ base, so AQE broadcasts the change side;
rewriting only affected partitions (partition pruning on the merge
output) is the production refinement. ``scd2_history`` is one shuffle on
the key for the window — linear, no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    changes: DataFrame, key_cols: list[str], seq_col: str
) -> DataFrame:
    """Deduplicate a CDC batch to the LAST change per key (highest
    ``seq_col``; ties broken deterministically by preferring deletes so
    a same-sequence insert+delete is stable, not arrival-ordered)."""
    # op ASC on the seq tie: 'D' < 'U', so the delete ranks first and
    # wins — matching the documented tie preference.
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col("op").asc()
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    evolve_schema: bool = False,
) -> DataFrame:
    """MERGE semantics: ``changes`` rows carry ``op`` = 'U' (upsert) or
    'D' (delete), a sequence column, and the full payload. The result is
    the base snapshot with the latest change per key applied:

      matched + last op 'U'      → updated payload
      matched + last op 'D'      → row removed
      unmatched change, op 'U'   → inserted
      base rows without a change → unchanged

    Payload column set must equal base's columns — unless
    ``evolve_schema`` is set, which applies Delta's automatic schema
    evolution rule for ``MERGE WITH SCHEMA EVOLUTION`` (reference's
    Delta tables evolve this way, `01_bronze_layer_ingestion.py:68`):
    payload columns NOT in the base are ADDED to the target schema, and
    pre-existing base rows read NULL for them. Narrowing (payload
    missing a base column) stays an error in both modes — dropping a
    column via MERGE is not an evolution Delta performs either.
    """
    if evolve_schema:
        payload = [c for c in changes.columns if c not in ("op", seq_col)]
        for c in payload:
            if c not in base.columns:
                base = base.withColumn(
                    c, F.lit(None).cast(changes.schema[c].dataType)
                )
    last = latest_per_key(changes, key_cols, seq_col)
    upserts = last.filter(F.col("op") == "U").select(*base.columns)
    touched = last.select(*key_cols)
    kept = base.join(touched, on=key_cols, how="left_anti")
    # Deletes need no explicit branch: their keys are anti-joined out of
    # `kept` and contribute no row to `upserts`.
    return kept.unionByName(upserts)


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Type-2 dimension history from a keyed change stream.

    Consecutive rows per key whose tracked attributes are unchanged are
    collapsed; each emitted row spans [valid_from, valid_to) with
    valid_to NULL (open) on the current row and ``is_current`` flagging
    it. Deterministic: ties on ``ts_col`` are broken by the attribute
    values so reruns produce identical history.
    """
    # A row starts a new version when any tracked attribute differs from
    # the previous row (or it is the first row of the key).
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).asc(), *attr_cols)
    same_as_prev = F.lit(True)
    for a in attr_cols:
        same_as_prev = same_as_prev & F.lag(a).over(w).eqNullSafe(F.col(a))
    is_new_version = F.when(
        F.row_number().over(w) == 1, F.lit(True)
    ).otherwise(~same_as_prev)

    versioned = changes.select(*key_cols, *attr_cols, ts_col).withColumn(
        "_new_ver", is_new_version
    )
    versioned = versioned.filter(F.col("_new_ver")).drop("_new_ver")
    w2 = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).asc(), *attr_cols)
    return (
        versioned.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Table diff between two snapshot versions: per key, whether the
    row was inserted, deleted, updated (with the list of changed
    columns) or unchanged — the ``table_changes``/CDF shape recovered
    from plain snapshots, so time-travel versions (streaming/cdc.py::
    read_version) can be compared without a change log.

    One full-outer join on the keys (null-safe, so NULL key components
    diff like values); every column comparison is a JVM expression.
    Scale: shuffle on the key both sides — co-partitioned if the
    snapshots share a layout; at 100 TB prefer diffing partition-pruned
    slices (the join is embarrassingly partitionable by key range).
    """
    attrs = [c for c in new.columns if c not in key_cols]
    o = old.withColumn("_in_old", F.lit(True)).alias("o")
    n = new.withColumn("_in_new", F.lit(True)).alias("n")
    cond = None
    for k in key_cols:
        eq = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = eq if cond is None else (cond & eq)
    joined = o.join(n, cond, "full_outer")
    changed = F.array_compact(
        F.array(*[
            F.when(
                ~F.col(f"o.{a}").eqNullSafe(F.col(f"n.{a}")), F.lit(a)
            )
            for a in attrs
        ])
    ) if attrs else F.array().cast("array<string>")
    change_type = (
        F.when(F.col("o._in_old").isNull(), F.lit("insert"))
        .when(F.col("n._in_new").isNull(), F.lit("delete"))
        .when(F.size("changed_cols") > 0, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    # changed_cols is an update-only notion: inserts/deletes have no
    # counterpart row to compare, so they carry an empty list (the CDF
    # convention), not "every column changed against NULLs".
    changed = F.when(
        F.col("o._in_old").isNull() | F.col("n._in_new").isNull(),
        F.array().cast("array<string>"),
    ).otherwise(changed)
    out = (
        joined.withColumn("changed_cols", changed)
        .select(
            *[
                F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k)
                for k in key_cols
            ],
            change_type.alias("change_type"),
            "changed_cols",
        )
    )
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out
