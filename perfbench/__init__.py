"""User-flow benchmark for lintdb_spark (see README.md)."""
