"""Benchmark for the financial analytics engine: two workloads
(``api_serve``, and ``lake_write``, which runs a tick stream and the
medallion batch lifecycle), seeded input generators, independent
DuckDB/pandas oracles and an optional trace."""
