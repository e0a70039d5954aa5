"""Structured Streaming pipeline: bronze → silver → gold.

Open-source re-expression of the reference's four Databricks streaming
queries (SURVEY §3), with the three deliberate architecture fixes:

1. Bronze reads the source ONCE and splits valid/quarantine inside a
   single ``foreachBatch`` (the reference runs two independent queries
   over the same Auto Loader source, reading every byte twice — §4.3).
2. Silver's dedup uses ``dropDuplicatesWithinWatermark`` so the state
   store is provably bounded by the 2-hour horizon in OSS Spark.
3. Gold's aggregate→window→aggregate plan is unsupported on streams in
   OSS Spark (§3.3); its first aggregate, the (user, region) totals,
   runs as a complete-mode stateful streaming aggregation, and a
   ``foreachBatch`` over those totals takes the per-user argmax and
   overwrites the Gold snapshot — the reference's complete-mode
   semantics.

Layers chain through storage (parquet dirs + per-query checkpoints), the
same exactly-once mechanism as the reference's Delta tables.
"""
