"""Seeded end-to-end benchmark of the gpiv_spark engine (see README.md)."""
