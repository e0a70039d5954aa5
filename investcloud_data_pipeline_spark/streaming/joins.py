"""Stream-stream joins with event-time constraints.

The reference has no stream-stream joins (SURVEY §2.11: "no
stream-stream joins"); this extends the engine with the canonical
attribution shape a clickstream pipeline needs: purchases joined to the
clicks that preceded them within an attribution window, both sides
unbounded streams.

Scale notes: Spark buffers both sides in the state store, keyed by the
join key — the watermark plus the time-range condition is what lets it
EVICT state (rows older than watermark - window can never match and are
dropped). Without the time bound, state grows forever; this module makes
the bound mandatory. The join shuffles both streams on user_id once per
micro-batch; skewed hot users salt the same way batch joins do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str,
    watermark_delay: str,
    how: str,
) -> DataFrame:
    """Purchases ``p`` joined ``how`` to the same user's clicks ``c``
    with click_ts ≤ purchase_ts ≤ click_ts + ``window``; both sides
    watermarked by ``watermark_delay``."""
    c = clicks.withWatermark("click_ts", watermark_delay).alias("c")
    p = purchases.withWatermark("purchase_ts", watermark_delay).alias("p")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("p.purchase_ts") >= F.col("c.click_ts"))
        & (
            F.col("p.purchase_ts")
            <= F.col("c.click_ts") + F.expr(f"interval {window}")
        )
    )
    return p.join(c, cond, how)


def attribute_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "15 minutes",
    watermark_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Join each purchase to the clicks by the same user within the
    trailing attribution ``window`` (click_ts ≤ purchase_ts ≤ click_ts +
    window).

    Inputs: ``clicks`` (user_id, click_ts, click_id),
    ``purchases`` (user_id, purchase_ts, amount) — both may be streaming.
    ``how="left_outer"`` additionally emits unattributed purchases (null
    click columns) once the click-side watermark proves no match can
    arrive; outer rows therefore only materialize after the watermark
    advances past ``purchase_ts + window``.
    ``how="full_outer"`` (round 11) emits unmatched rows from BOTH
    sides — unattributed purchases (null click columns) AND clicks that
    converted nothing (null purchase columns). The output key is
    ``coalesce`` of the two sides' user_id so outer rows keep their key;
    both sides' state evicts on the same watermark + interval bound, so
    a full-outer row for a click materializes once the purchase-side
    watermark passes ``click_ts + window`` (OSS supports this
    watermark-bounded since Spark 3.1).
    """
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(f"unsupported stream-stream join type: {how}")
    joined = _interval_join(clicks, purchases, window, watermark_delay, how)
    user = (
        F.coalesce(F.col("p.user_id"), F.col("c.user_id"))
        if how == "full_outer"
        else F.col("p.user_id")
    )
    return joined.select(
        user.alias("user_id"),
        F.col("p.purchase_ts").alias("purchase_ts"),
        F.col("p.amount").alias("amount"),
        F.col("c.click_id").alias("click_id"),
        F.col("c.click_ts").alias("click_ts"),
    )


def attributed_revenue_hourly(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "15 minutes",
    watermark_delay: str = "1 hour",
    bucket: str = "1 hour",
) -> DataFrame:
    """CHAINED STATEFUL OPERATORS (round 11): a stream-stream LEFT SEMI
    interval join — purchases with at least one same-user click in the
    trailing attribution ``window``, each purchase emitted AT MOST ONCE
    (the inner join's (purchase, click) fan-out would double-count
    revenue) — feeding a downstream watermarked tumbling aggregation of
    revenue per ``bucket``. Two state stores run in one streaming
    query: the join buffers both inputs, the aggregation holds open
    windows; the event-time watermark propagates THROUGH the join
    (delayed by the join's interval bound) to close the downstream
    windows, the multiple-stateful-operator support OSS added in 3.5.

    Output: (win_start, n_purchases, revenue_micros) in append mode —
    a window emits once the propagated watermark passes its end. The
    integral micros sum keeps the aggregate exact cross-engine (the
    batch twin's DuckDB oracle compares values).

    Scale: the same single user_id shuffle as the inner join, then one
    window-key shuffle for the aggregation; both states evict on the
    watermark, so state is bounded by (join window + bucket) x arrival
    rate regardless of stream age."""
    attributed = _interval_join(
        clicks, purchases, window, watermark_delay, "left_semi"
    )
    return (
        attributed.groupBy(F.window("purchase_ts", bucket))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(
                F.floor(F.col("amount") * 1_000_000).cast("long")
            ).alias("revenue_micros"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "n_purchases",
            "revenue_micros",
        )
    )
