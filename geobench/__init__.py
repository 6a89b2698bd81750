"""Seeded spatial benchmark for datafusion_geo_spark (see README.md)."""
