"""Asset-lifecycle benchmark for dagster_delta_spark (see run.py)."""
