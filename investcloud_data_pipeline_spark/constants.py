"""Lightweight cross-layer constants.

Values shared between the streaming stage and its batch/SQL twins live
here so the batch-plans registry can interpolate them WITHOUT importing
the streaming modules (which pull in pandas/numpy and
pyspark.sql.streaming.state at import time — round-12 ADVICE: a driver
without the pandas stack must still be able to enumerate batch
queries).
"""

# Heap size of the streaming per-user top-K state class
# (streaming/stateful.py::user_running_topk) and its batch twin
# (plans/analytics_ext8.py::user_topk_events). One definition so
# bumping K cannot desynchronize the pair.
TOPK_K = 5

# Watermark delay of the window stages (streaming/windows.py), also the
# session gap: their batch twins (plans/analytics_ext8.py::
# *_watermark_rollup) and oracles cut at the same closed windows.
WINDOW_DELAY_MINUTES = 30
WINDOW_DELAY = f"{WINDOW_DELAY_MINUTES} minutes"
