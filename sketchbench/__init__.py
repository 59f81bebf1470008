"""Seeded benchmark of cuckoofilter_spark: see README.md."""
