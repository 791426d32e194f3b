"""End-to-end and per-layer benchmark for refitd_etl_spark (see README.md)."""
