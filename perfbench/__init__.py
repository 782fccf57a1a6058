"""Pipeline benchmark for etl_gardener_spark (entry point: run.py)."""
