"""DuckDB oracle SQL and driver-testdata adapters for oracle checks."""
