"""Benchmark of the extraction stage and the operator queries; see README.md."""
