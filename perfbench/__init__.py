"""Benchmark of the geodesk_gol_spark engine; see BENCHMARK.json."""
